package graft.tools

import graft.SparkEntry
import graft.util.{Sessions, Tuning}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.jdk.CollectionConverters._

/** The per-query probe (dev tool). It runs catalog queries in the
  * session every entry point builds ([[graft.util.Sessions]], sized as
  * Bench sizes it), so a probed row plans exactly as Bench times it.
  *
  * {{{
  *   runMain graft.tools.Probe time   <sfDir> <query,...> [k=v ...]
  *   runMain graft.tools.Probe plan   <sfDir> <query,...> <outDir> [k=v ...]
  *   runMain graft.tools.Probe stream <sfDir> <query,...> [k=v ...]
  * }}}
  *
  *  - time: a cold run (plan compile + JIT included) then a warm run of
  *    each query through the noop sink Bench uses, with one line per
  *    completed Spark stage.
  *  - plan: operator counts of the executed plan, and the formatted
  *    explain written to `<outDir>/<query>.txt`.
  *  - stream: each trigger's `durationMs` phases, for the streaming rows
  *    (which run while their DataFrame is built, then sink as a table).
  *
  * Each `k=v` sets a SQL conf before any query runs, so an A/B is two
  * invocations that differ in one `k=v`. Cores: `SPARK_GRAFT_CPUS`
  * (default 4), as in Bench and Verify.
  */
object Probe {

  private val Operators = Seq("FileScan", "Exchange", "BroadcastExchange",
    "ReusedExchange", "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct", "Window")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: time|plan|stream <sfDir> <query,...> [outDir] [k=v ...]")
    val Array(mode, sfDir, names) = args.take(3)
    val (confs, rest) = args.drop(3).toSeq.partition(_.contains("="))
    val queries = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions(s"local[$cpus]", Tuning.shufflePartitions(sfDir, cpus))
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
    def sink(q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      secs(t0)
    }

    mode match {
      case "time" =>
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val wall = (for (s <- si.submissionTime; c <- si.completionTime)
              yield (c - s) / 1e3).getOrElse(-1.0)
            println(f"[probe] stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
              f"wall=$wall%6.2fs  ${si.name.take(70)}")
          }
        })
        for (q <- queries) {
          val cold = sink(q)
          val warm = sink(q)
          println(f"[probe] $q%-28s cold $cold%8.2f s  warm $warm%8.2f s")
        }

      case "plan" =>
        val outDir = rest.headOption.getOrElse(sys.error("plan mode needs <outDir>"))
        new java.io.File(outDir).mkdirs()
        for (q <- queries) {
          val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
          val plan = qe.executedPlan.toString
          val counts = Operators.map(op => s"$op=${s"\\b$op\\b".r.findAllIn(plan).size}")
          println(s"[probe] $q ${counts.mkString(" ")}")
          val out = java.nio.file.Paths.get(outDir, s"$q.txt")
          java.nio.file.Files.writeString(out, qe.explainString(FormattedMode))
          println(s"[probe] wrote $out")
        }

      case "stream" =>
        spark.streams.addListener(new StreamingQueryListener {
          def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
            println(s"[probe] trigger ${p.name} batch=${p.batchId} rows=${p.numInputRows} $phases")
          }
        })
        for (q <- queries) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, sfDir)
          val build = secs(t0)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          println(f"[probe] $q%-28s build $build%8.2f s  sink ${secs(t1)}%8.2f s")
        }

      case other => sys.error(s"unknown mode '$other' (time|plan|stream)")
    }
    spark.stop()
  }
}
