package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.JoinHint
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Automatic band-join planning — the numeric sibling of
  * [[IntervalJoinRewrite]]: a raw band join
  *
  *   SELECT ... FROM l JOIN r ON abs(l.v - r.v) <= eps [AND ...]
  *   SELECT ... FROM l JOIN r ON l.v BETWEEN r.v - eps AND r.v + eps
  *
  * has no equi-condition, so Spark plans BroadcastNestedLoopJoin /
  * CartesianProduct — O(n·m). This rule detects the band — either the
  * absolute-difference spelling or the BETWEEN/conjunct-pair spelling
  * (`l.v >= r.v - e1 AND l.v <= r.v + e2`, asymmetric widths allowed) —
  * over integral columns, buckets each side at the band half-width
  * (FLOOR division via pmod, so negatives land right — the same math as
  * operators.BandJoin), expands the RIGHT side to its bucket and both
  * neighbours (a band of half-width w only reaches those three),
  * equi-joins on the bucket, and keeps the ORIGINAL predicate(s) as the
  * residual. A (l, r) pair matches at most one (bucket_l = expanded
  * bucket_r) pair — the three expanded buckets are distinct — so no
  * dedup predicate is needed, unlike the interval rule's bin fan-out.
  * For an asymmetric pair the bucket width is max(e1, e2): the band is
  * contained in |l.v − r.v| ≤ max(e1, e2), so ±1-bucket coverage stays
  * sound and the residual keeps exactness.
  *
  * Join types: Inner, LeftSemi, LeftAnti, LeftOuter, RightOuter,
  * FullOuter. The Generate fan-out preserves per-(l, r) match
  * multiplicity exactly (at most one expanded copy satisfies the bucket
  * equality), so inner and outer results are row-identical and
  * existence (semi/anti) is preserved — PROVIDED the expansion happens
  * on the side whose unmatched rows the join type drops. Left-preserving
  * types expand the RIGHT side (an unmatched left row surfaces once
  * because the left is intact); RightOuter mirrors — it expands the
  * LEFT side, so an unmatched right row surfaces exactly once.
  * FullOuter preserves unmatched rows on BOTH sides, so no single
  * expansion side works: it is decomposed as
  *
  *   FullOuter(l, r) = LeftOuter(l, r)  UNION ALL
  *                     nullExtend(Anti(r, l))
  *
  * — the LeftOuter branch (right-side expansion) carries every matched
  * pair at exact multiplicity plus each unmatched LEFT row once; the
  * anti branch streams the RIGHT side against the expanded left (the
  * existence side, where fan-out is harmless — bucket coverage means
  * "no match over the expansion" iff "no true band match") and
  * null-extends the survivors, each unmatched RIGHT row exactly once.
  * The two branches partition FullOuter's output, so the union is
  * row-identical to the nested-loop result.
  *
  * Idempotent by guard: the rewritten join's condition references the
  * generated `__lband`/`__rband` attributes, which the matcher refuses.
  * Integral value types only — the engine-wide exact-units convention
  * (cents, micro-nats); float bands are left to the user's own bucketing.
  *
  * Register: [[graft.util.Sessions]] (which adds GraftExtensions)
  * or spark.sql.extensions=graft.plans.GraftExtensions.
  */
case class BandJoinRewrite() extends Rule[LogicalPlan] with PredicateHelper {

  private val bandNames = Set("__lband", "__rband")

  private val supported: Set[JoinType] =
    Set(Inner, LeftSemi, LeftAnti, LeftOuter, RightOuter, FullOuter)

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  private def epsOf(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, joinType, Some(cond), hint)
        if supported.contains(joinType) &&
          !cond.references.exists(a => bandNames.contains(a.name)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      def crossSides(a: Expression, b: Expression): Boolean =
        ((sideOf(a, left, right), sideOf(b, left, right)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }) && isIntegral(a) && isIntegral(b)
      // abs(x - y) <= eps (or < eps): the one-conjunct band; strictness
      // rides in the residual, bucket coverage at width eps is sound
      // for both. Result is (x, y, eps) with x, y on opposite sides.
      def bandOf(e: Expression): Option[(Expression, Expression, Long)] = {
        def fromParts(a: Expression, b: Expression, eps: Long) =
          if (crossSides(a, b)) Some((a, b, eps)) else None
        e match {
          case LessThanOrEqual(Abs(Subtract(a, b, _), _), lim) =>
            epsOf(lim).filter(_ > 0).flatMap(fromParts(a, b, _))
          case LessThan(Abs(Subtract(a, b, _), _), lim) =>
            epsOf(lim).filter(_ > 0).flatMap(fromParts(a, b, _))
          case GreaterThanOrEqual(lim, Abs(Subtract(a, b, _), _)) =>
            epsOf(lim).filter(_ > 0).flatMap(fromParts(a, b, _))
          case _ => None
        }
      }
      // One-sided bound normalized to "a - b <= eps" (eps >= 0): the
      // BETWEEN spelling arrives as two such conjuncts with opposite
      // orientation. Strict forms are admitted with the same eps — for
      // integers x - y < eps ⟹ x - y <= eps, so coverage is sound and
      // the residual keeps the strictness.
      def ubOf(e: Expression): Option[(Expression, Expression, Long)] = {
        def mk(a: Expression, b: Expression, eps: Long) =
          if (eps >= 0 && crossSides(a, b)) Some((a, b, eps)) else None
        e match {
          // x <= y + eps  /  x < y + eps
          case LessThanOrEqual(x, Add(y, lim, _)) if epsOf(lim).isDefined =>
            mk(x, y, epsOf(lim).get)
          case LessThan(x, Add(y, lim, _)) if epsOf(lim).isDefined =>
            mk(x, y, epsOf(lim).get)
          // x >= y - eps  /  x > y - eps   ⟹   y - x <= eps
          case GreaterThanOrEqual(x, Subtract(y, lim, _)) if epsOf(lim).isDefined =>
            mk(y, x, epsOf(lim).get)
          case GreaterThan(x, Subtract(y, lim, _)) if epsOf(lim).isDefined =>
            mk(y, x, epsOf(lim).get)
          // mirrored literal-on-left renderings
          case GreaterThanOrEqual(Add(y, lim, _), x) if epsOf(lim).isDefined =>
            mk(x, y, epsOf(lim).get)
          case LessThanOrEqual(Subtract(y, lim, _), x) if epsOf(lim).isDefined =>
            mk(y, x, epsOf(lim).get)
          // x - y <= eps
          case LessThanOrEqual(Subtract(x, y, _), lim) if epsOf(lim).isDefined =>
            mk(x, y, epsOf(lim).get)
          case LessThan(Subtract(x, y, _), lim) if epsOf(lim).isDefined =>
            mk(x, y, epsOf(lim).get)
          case _ => None
        }
      }
      // A band is either one abs conjunct, or a PAIR of one-sided bounds
      // with opposite orientation over the same (x, y): x - y <= e1 and
      // y - x <= e2. Bucket width max(e1, e2) (> 0) contains the band.
      def pairBand(): Option[(Seq[Expression], (Expression, Expression, Long))] = {
        val ubs = conjuncts.flatMap(e => ubOf(e).map(u => (e, u)))
        val found = ubs.iterator.flatMap { case (e1, (a1, b1, eps1)) =>
          ubs.collectFirst {
            case (e2, (a2, b2, eps2))
                if !(e2 eq e1) && a2.semanticEquals(b1) && b2.semanticEquals(a1) &&
                  math.max(eps1, eps2) > 0 =>
              (Seq(e1, e2), (a1, b1, math.max(eps1, eps2)))
          }
        }
        if (found.hasNext) Some(found.next()) else None
      }
      val band: Option[(Seq[Expression], (Expression, Expression, Long))] =
        conjuncts.flatMap(e => bandOf(e).map(b => (Seq(e), b))).headOption
          .orElse(pairBand())
      band match {
        case Some((bandPreds, (bx, by, eps))) =>
          // orient: lv from the left child, rv from the right
          val (lv, rv) =
            if (sideOf(bx, left, right).contains(true)) (bx, by) else (by, bx)
          val rest = conjuncts.filterNot(c => bandPreds.exists(_ eq c))
          val epsLit = Literal(eps, LongType)
          // floor-div bucket: (v - pmod(v, eps)) div eps — exact for
          // negatives (pmod is non-negative), division exact by
          // construction so IntegralDivide's truncation never engages
          def bucket(e: Expression): Expression = {
            val v = Cast(e, LongType)
            IntegralDivide(Subtract(v, Pmod(v, epsLit)), epsLit)
          }
          def expand(b: Expression, out: AttributeReference, child: LogicalPlan) =
            Generate(
              Explode(CreateArray(Seq(
                Subtract(b, Literal(1L)), b, Add(b, Literal(1L))))),
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(out), child = child)
          if (joinType == FullOuter) {
            // LeftOuter branch: right-side expansion (matched pairs at
            // exact multiplicity + each unmatched LEFT row once)
            val lBand = Alias(bucket(lv), "__lband")()
            val lProj = Project(left.output :+ lBand, left)
            val rAttr = AttributeReference("__rband", LongType, nullable = true)()
            val rGen = expand(bucket(rv), rAttr, right)
            val loCond = (Seq(EqualTo(lBand.toAttribute, rAttr)) ++
              bandPreds ++ rest).reduce(And)
            val lo = Project(j.output,
              Join(lProj, rGen, LeftOuter, Some(loCond), hint))
            // Anti branch: unmatched RIGHT rows, found by streaming the
            // right side against the expanded LEFT (existence side — the
            // RightOuter mirror's expansion, demoted to a semi-test),
            // then null-extended to the join schema. Sides are swapped
            // relative to the original join, so the hint does not carry.
            val rBand = Alias(bucket(rv), "__rband")()
            val rProj = Project(right.output :+ rBand, right)
            val lAttr = AttributeReference("__lband", LongType, nullable = true)()
            val lGen = expand(bucket(lv), lAttr, left)
            val antiCond = (Seq(EqualTo(lAttr, rBand.toAttribute)) ++
              bandPreds ++ rest).reduce(And)
            val anti = Join(rProj, lGen, LeftAnti, Some(antiCond), JoinHint.NONE)
            // null-extend under the LEFT side's output ids so the union
            // keeps j.output's attribute ids (union output = head child's)
            val nullLeft = left.output.map(a =>
              Alias(Literal.create(null, a.dataType), a.name)(exprId = a.exprId))
            val extended = Project(nullLeft ++ right.output, anti)
            Union(lo, extended)
          } else {
          val rewritten = if (joinType == RightOuter) {
            // mirror: expand the LEFT side so unmatched RIGHT rows (the
            // ones RightOuter preserves) surface exactly once
            val rBand = Alias(bucket(rv), "__rband")()
            val rProj = Project(right.output :+ rBand, right)
            val lAttr = AttributeReference("__lband", LongType, nullable = true)()
            val lGen = expand(bucket(lv), lAttr, left)
            val newCond = (Seq(EqualTo(lAttr, rBand.toAttribute)) ++
              bandPreds ++ rest).reduce(And)
            Join(lGen, rProj, joinType, Some(newCond), hint)
          } else {
            val lBand = Alias(bucket(lv), "__lband")()
            val lProj = Project(left.output :+ lBand, left)
            val rAttr = AttributeReference("__rband", LongType, nullable = true)()
            val rGen = expand(bucket(rv), rAttr, right)
            val newCond = (Seq(EqualTo(lBand.toAttribute, rAttr)) ++
              bandPreds ++ rest).reduce(And)
            Join(lProj, rGen, joinType, Some(newCond), hint)
          }
          Project(j.output, rewritten)
          }
        case None => j
      }
  }
}
