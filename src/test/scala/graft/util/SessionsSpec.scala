package graft.util

import graft.{SparkEntry, SparkSpec}
import graft.plans.{BandJoinRewrite, IntervalJoinRewrite}

/** The session factory every entry point uses. Run against the shared
  * test session: the worst case, where getOrCreate returns a session
  * that already exists and the builder's extensions are ignored, so
  * only the factory's late rules can plan the interval and band joins.
  */
class SessionsSpec extends SparkSpec {

  private val sharedConfs = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.shuffle.partitions" -> "3")

  test("factory registers each rewrite once, sets the shared confs, plans j1/j2/j11 without nested loops") {
    val savedRules = spark.experimental.extraOptimizations
    val savedConfs = sharedConfs.keys.map(k => k -> spark.conf.getOption(k))
    try {
      val s = Sessions("local[4]", 3)
      assert(Sessions("local[4]", 3) eq s)
      assert(s eq spark)
      for (rule <- Seq(classOf[IntervalJoinRewrite], classOf[BandJoinRewrite]))
        assert(s.experimental.extraOptimizations.count(rule.isInstance) === 1, rule)
      for ((k, v) <- sharedConfs) assert(s.conf.get(k) === v, k)
      assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
      for (q <- Seq("j1_interval_point_bcast", "j2_interval_overlap_shuffle", "j11_band_join")) {
        val plan = SparkEntry.queries(q)(s, sf("0.001")).queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"$q\n$plan")
      }
    } finally {
      spark.experimental.extraOptimizations = savedRules
      savedConfs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
