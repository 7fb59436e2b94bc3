package graft.util

import graft.plans.{BandJoinRewrite, GraftExtensions, IntervalJoinRewrite}
import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session (reference AvocadoMain
  * builds one context the same way for every command). The CLI, Bench,
  * Verify and the tools all come through here, so a query plans the
  * same whichever entry point runs it.
  */
object Sessions {

  def apply(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type,
      // so read it as a long of epoch-nanos (queries divide it down).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // builder extensions are silently IGNORED when getOrCreate returns a
    // pre-existing session (shared-JVM callers, tests) — ensure the
    // interval-join rewrite either way, so a raw SQL overlap join from
    // this session never plans nested-loop. Safe to stack with the
    // injected rule: the rewrite is idempotent (its own dedup predicate
    // fails the equis-only guard on an already-rewritten join).
    // BandJoinRewrite additionally WANTS the extraOptimizations slot (the
    // last optimizer batch): an EXISTS-spelled band becomes a LeftSemi
    // join only at RewriteSubquery, AFTER the injected operator batch —
    // only a late copy of the rule sees it. Idempotent (the __lband
    // reference guard), so stacking with the injected copy is safe.
    val extra = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = extra ++
      (if (extra.exists(_.isInstanceOf[IntervalJoinRewrite])) Nil else Seq(IntervalJoinRewrite())) ++
      (if (extra.exists(_.isInstanceOf[BandJoinRewrite])) Nil else Seq(BandJoinRewrite()))
    s
  }
}
