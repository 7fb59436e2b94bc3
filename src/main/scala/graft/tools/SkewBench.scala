package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-join evidence harness (dev tool, the j7/AQE measurement the
  * 100 TB posture rests on): times the SAME hot-key aggregate join
  * three ways on a scale leg —
  *
  *   plain   — AQE skew-split OFF, no salt: the hot key's rows land in
  *             ONE reducer; wall time is the straggler's.
  *   aqe     — AQE skew-split ON (thresholds sized to the local leg):
  *             the runtime re-plan splits the oversized partition.
  *   salted  — [[graft.operators.SkewJoin.saltedEquiJoin]] (the j7
  *             operator, oracle-pinned in the gate catalog): the key
  *             space itself is spread, no runtime detection needed.
  *
  * The skew is synthetic but deterministic: 40% of event rows collapse
  * onto key 0 (every user_id ≡ 0 or 1 (mod 5)), the rest keep their
  * user key — the celebrity-user regime. Broadcast is disabled
  * throughout: at the 100 TB design point the dimension side exceeds
  * the broadcast budget, which is exactly when skew bites (a broadcast
  * join never shuffles the fact side, so there is no hot reducer).
  *
  * All three flavors must return the SAME aggregate rows (asserted
  * here); the salted operator's correctness is additionally pinned by
  * the j7 oracle row in the driver gate. Output: one JSON line with
  * min-of-2 wall seconds per flavor.
  *
  * Usage: `sbt "runMain graft.tools.SkewBench /tmp/sf1"`
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val spark = graft.util.Sessions(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // the hot-key fact side: 60% of rows collapse onto key 0. The fact
    // is checkpointed so the timed region is the JOIN (shuffle + reduce)
    // rather than the parquet scan the three flavors share — at cluster
    // scale the scan parallelizes perfectly; the hot reducer does not.
    val fact = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("value"))
      .withColumn("k",
        when(pmod(col("user_id"), lit(5L)) < 3L, 0L).otherwise(col("user_id")))
      // level the map side (the single-file scan checkpoints as one fat
      // partition otherwise, and a map straggler would mask the reducer)
      .repartition(32)
      .localCheckpoint(true)
    // dimension side: FOUR rows per key (the user x variant shape) so
    // the join's OUTPUT dominates the reduce stage — that is where a
    // hot reducer actually hurts (a bare count's reduce work is too
    // cheap to expose the straggler at any local scale). Built once and
    // checkpointed so its construction never rides a timed join.
    val dim = fact.select(col("k")).distinct()
      .withColumn("v", explode(sequence(lit(0L), lit(3L))))
      .withColumn("grp", pmod(col("k") + col("v"), lit(7L)))
      .localCheckpoint(true)

    def agg(joined: DataFrame): Array[(Long, Long, Double)] =
      joined.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
        .as[(Long, Long, Double)].collect().sortBy(_._1)

    def conf(kv: (String, String)*): Unit =
      kv.foreach { case (k, v) => spark.conf.set(k, v) }

    // broadcast off for every flavor: the regime under measurement
    conf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

    // plain/salted: AQE's partition COALESCING is also disabled — at
    // this local scale it would fold the 32 reduce partitions into ~2
    // (the shuffle is small in bytes), hiding the hot key behind a
    // 2-task stage; a production shuffle would keep its width
    def plainConf(): Unit = conf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    def aqeConf(): Unit = conf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // local-leg sizing: the hot partition is tens of MB, not the
      // 256 MB default a production cluster would flag
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")

    def runPlain(): Array[(Long, Long, Double)] = agg(fact.join(dim, "k"))
    def runAqe(): Array[(Long, Long, Double)] = agg(fact.join(dim, "k"))
    def runSalted(): Array[(Long, Long, Double)] = agg(
      graft.operators.SkewJoin
        .saltedEquiJoin(fact, dim.withColumnRenamed("k", "dk"), "k", "dk",
          factor = 32)
        .drop("dk"))
    // NOTE: hot_share in the output JSON = fraction of fact rows on key 0

    // warm the page cache + codegen before any timed pass
    plainConf(); val expect = runSalted()

    // per-stage task-skew evidence: the straggler is visible as
    // max-task >> p50-task on the join's reduce stage
    val stageStats = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Vector[Long])]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = te.taskInfo.duration
        stageStats.merge(te.stageId, (d, Vector(d)),
          (a, b) => (math.max(a._1, b._1), a._2 ++ b._2))
      }
    })

    def time(setup: () => Unit, run: () => Array[(Long, Long, Double)],
        label: String): Double = {
      setup()
      stageStats.clear()
      val t0 = System.nanoTime()
      val got = run()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(got.sameElements(expect),
        s"flavor disagreed: ${got.toSeq} vs ${expect.toSeq}")
      import scala.jdk.CollectionConverters._
      val skewLines = stageStats.asScala.toSeq.sortBy(_._1).map { case (sid, (mx, ds)) =>
        val sorted = ds.sorted
        val p50 = sorted(sorted.size / 2)
        s"stage $sid: tasks=${ds.size} max=${mx}ms p50=${p50}ms"
      }
      System.err.println(s"[skewbench:$label ${f"$sec%.3f"}s] ${skewLines.mkString(" | ")}")
      sec
    }

    // two interleaved rounds, min wins (JIT/page-cache fairness)
    val rounds = (1 to 2).map { _ =>
      (time(plainConf _, runPlain _, "plain"),
        time(aqeConf _, runAqe _, "aqe"),
        time(plainConf _, runSalted _, "salted"))
    }
    val plain = rounds.map(_._1).min
    val aqe = rounds.map(_._2).min
    val salted = rounds.map(_._3).min
    println(s"""{"metric":"skewbench","sf":"$dir","plain_sec":${f"$plain%.3f"},"aqe_sec":${f"$aqe%.3f"},"salted_sec":${f"$salted%.3f"},"rows":${fact.count()},"hot_share":0.6,"fanout":4}""")
    spark.stop()
  }
}
