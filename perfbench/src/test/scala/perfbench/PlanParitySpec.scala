package perfbench

import java.nio.file.Files

import graft.SparkEntry
import graft.util.ScratchDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFiles}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark must time the plans users get: its session applies the
  * program's interval and band rewrites, and a germline pass plans the
  * same in the benchmark's session as in the CLI's.
  */
class PlanParitySpec extends AnyFunSuite {

  /** Plan text without expression ids and object hashes. */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+L?", "#").replaceAll("@[0-9a-f]{4,}", "@")
      .replaceAll("\\[plan_id=\\d+\\]", "")

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("interval and band joins plan with the rewrites, never nested loops") {
    val dir = Files.createTempDirectory("perfbench-tables").toString
    val spark = Bench.session()
    try {
      // the two tables these catalog rows read, with TPC-H account balances
      for ((table, key, bal) <- Seq(("customer", "c_custkey", "c_acctbal"),
          ("supplier", "s_suppkey", "s_acctbal")))
        spark.range(0, 2000).select(col("id").as(key),
          round(pmod(col("id") * 7919, lit(11000)) - 999.99, 2).as(bal))
          .write.parquet(s"$dir/$table.parquet")
      for (q <- Seq("j1_interval_point_bcast", "j2_interval_overlap_shuffle", "j11_band_join")) {
        val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"$q\n$plan")
      }
    } finally { stop(spark); ScratchDirs.deleteRecursively(dir) }
  }

  test("a germline pass plans the same as in the CLI's session, and as the CLI runs it") {
    val dir = Files.createTempDirectory("perfbench-parity").toString
    try {
      val bench = Bench.session()
      val wl = new GermlineBam(bench, 5L)
      wl.prepare(dir)
      val bam = s"$dir/reads.bam"
      val benchPlan = wl.cliPlan(bam).queryExecution
      val benchPhysical = normalized(benchPlan.executedPlan.toString)
      val benchLogical = normalized(benchPlan.optimizedPlan.treeString)

      // what the CLI command itself optimized, below its parquet sink
      var cliQuery: Option[LogicalPlan] = None
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          qe.optimizedPlan.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.query }
            .foreach(q => cliQuery = Some(q match { case w: WriteFiles => w.child; case o => o }))
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      bench.listenerManager.register(listener)
      graft.cli.Main.main(wl.cliArgs(bam, s"$dir/calls.parquet"))
      org.apache.spark.PerfbenchBus.drain(bench.sparkContext)
      bench.listenerManager.unregister(listener)
      assert(cliQuery.map(q => normalized(q.treeString)).contains(benchLogical))
      stop(bench)

      val cli = graft.cli.Main.session()
      try {
        val cliPhysical = normalized(new GermlineBam(cli, 5L).cliPlan(bam).queryExecution
          .executedPlan.toString)
        assert(cliPhysical == benchPhysical)
      } finally stop(cli)
    } finally ScratchDirs.deleteRecursively(dir)
  }
}
