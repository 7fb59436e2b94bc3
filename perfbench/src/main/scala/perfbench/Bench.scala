package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.util.ScratchDirs
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What one pass measured and whether its outputs were right. */
final case class PassResult(
    wallS: Double, cpuS: Double, heapMb: Double, outputMb: Double, barrierMb: Double,
    score: Option[Score], residue: Seq[String], error: Option[String], traced: Boolean) {
  def problems: Seq[String] = error.toSeq ++ score.toSeq.flatMap(_.problems) ++ residue
  def ok: Boolean = problems.isEmpty
}

/** The benchmark main: one workload, one seed, a closed loop of passes
  * for a fixed time, then one JSON result.
  *
  *   perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --result <file> [--trace-file <file>]
  *
  * Untraced (`--trace 0`) the result carries the end-to-end metrics. A
  * traced run (`--trace 1`) alternates traced and untraced passes, then
  * runs the per-layer probes, and carries the per-layer metrics; its
  * spans go to the trace file.
  */
object Bench {

  val SetupReps = 3

  private val EndToEndUnits = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "core-s", "output_mb" -> "MB",
    "ok_frac" -> "ratio", "snv_recall" -> "ratio", "snv_precision" -> "ratio",
    "gt_concordance" -> "ratio", "indel_recall" -> "ratio", "indel_precision" -> "ratio")

  /** The session every run uses: the CLI's own, so the benchmark times
    * the plans users get.
    */
  def session(): SparkSession = {
    val spark = graft.cli.Main.session()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def sizeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeBytes).sum
    else if (f.exists()) f.length() else 0L

  private def listing(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val resultFile = opt("result")

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    val wl = Workload(workload, spark, seed)

    // inputs, made SetupReps times from the same seed; the first copy is used
    val genS = (0 until SetupReps).map { i =>
      val d = s"$work/input$i"
      val t = System.nanoTime()
      wl.prepare(d)
      (System.nanoTime() - t) / 1e9
    }
    (1 until SetupReps).foreach(i => ScratchDirs.deleteRecursively(s"$work/input$i"))
    val inputDir = s"$work/input0"
    wl.use(inputDir)
    wl.genome // the truth, generated once outside any timed region

    val trace = new Trace(spark)
    val tmpDir = System.getProperty("java.io.tmpdir")
    var reference: Option[String] = None
    var passNo = 0

    // the first pass loads native libraries into the temp dir once per
    // JVM; later passes must leave it as they found it
    def runPass(withTrace: Boolean, checkTemp: Boolean = true): PassResult = {
      passNo += 1
      trace.pass = passNo
      val out = s"$work/pass$passNo"
      val rdds0 = Workload.persisted(spark)
      val tmp0 = listing(tmpDir)
      val inputs0 = listing(inputDir)
      System.gc()
      HeapTracker.reset()
      if (withTrace) trace.attach()
      val c0 = cpuNs
      val w0 = System.nanoTime()
      var barrierMb = 0.0
      val error =
        try {
          barrierMb =
            if (!withTrace) wl.pass(out, Step.Plain)
            else trace.span("pass", wl.name)(wl.pass(out, new Step {
              def apply(name: String)(f: => Unit): Unit = trace.span("layer", name)(f)
            }))._1
          None
        }
        catch { case NonFatal(e) => e.printStackTrace(); Some(s"pass threw ${e}") }
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuS = (cpuNs - c0) / 1e9
      if (withTrace) trace.drain()
      val heapMb = HeapTracker.peakBytes / 1048576.0
      val outputMb = sizeBytes(new File(out)) / 1048576.0
      // the pass released what its own calls persisted; whatever is left
      // the program left behind
      val rddsLeft = (Workload.persisted(spark) -- rdds0).size
      val blocksLeft = spark.sparkContext.getRDDStorageInfo.count(i => !rdds0.contains(i.id))
      if (withTrace) trace.detach()
      val score =
        if (error.nonEmpty) None
        else try Some(wl.score(out)) catch {
          case NonFatal(e) => e.printStackTrace(); Some(Score(Seq(s"check threw $e"), Map.empty, ""))
        }
      // determinism: every pass of a run writes the same outputs
      val digestProblem = score.map(_.digest).filter(_.nonEmpty).flatMap { d =>
        if (reference.isEmpty) { reference = Some(d); None }
        else if (reference.contains(d)) None
        else Some(s"outputs differ from the first pass ($d vs ${reference.get})")
      }
      // delete the outputs and release anything left, so the next pass
      // starts clean, then check that nothing is left behind
      ScratchDirs.deleteRecursively(out)
      Workload.release(spark, rdds0)
      val residue = Seq(
        Option.when(new File(out).exists())(s"output dir $out left"),
        Option.when(rddsLeft > 0)(s"$rddsLeft persisted RDDs left by the pass"),
        Option.when(blocksLeft > 0)(s"cached blocks of $blocksLeft RDDs left by the pass"),
        Option.when(checkTemp && listing(tmpDir) != tmp0)(
          s"temp files left: ${(listing(tmpDir) -- tmp0).take(3).mkString(", ")}"),
        Option.when(listing(inputDir) != inputs0)("inputs changed")
      ).flatten ++ digestProblem
      val r = PassResult(wallS, cpuS, heapMb, outputMb, barrierMb, score, residue, error, withTrace)
      System.err.println(f"[perfbench] ${wl.name} pass $passNo wall=${wallS}%.3fs cpu=${cpuS}%.2fs " +
        f"heap=${heapMb}%.0fMB out=${outputMb}%.2fMB traced=$withTrace " +
        s"problems=${r.problems.mkString("; ")} ${score.map(_.metrics).getOrElse(Map.empty)}")
      r
    }

    // warm-up: the first pass pays class loading, code generation and
    // the JIT; it is set-up
    val warm = runPass(withTrace = false, checkTemp = false)
    val setupS = sessionS + median(genS) + warm.wallS

    // at least one pass; a traced run at least one traced and one untraced
    val minPasses = if (traced) 2 else 1
    val passes = ArrayBuffer.empty[PassResult]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var traceNext = false
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      passes += runPass(withTrace = traced && traceNext)
      if (traced) traceNext = !traceNext
    }

    val failed = (warm +: passes).count(!_.ok)
    val attempted = passes.size + 1
    val good = passes.filter(_.ok)
    def med(f: PassResult => Double): Double = median(passes.toSeq.map(f))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val acc = (k: String) => median(passes.flatMap(_.score).flatMap(_.metrics.get(k)).toSeq)
        EndToEndUnits.map { case (k, unit) =>
          val v = k match {
            case "setup_s"           => setupS
            case "wall_s"            => med(_.wallS)
            case "cpu_s"             => med(_.cpuS)
            case "output_mb"         => med(_.outputMb)
            case "ok_frac"           => good.size.toDouble / passes.size
            case other               => acc(other)
          }
          (k, v, unit)
        }
      } else layerMetrics(spark, wl, trace, passes.toSeq, cores, work, opt.get("trace-file"))

    val json = new StringBuilder
    json.append(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""")
    json.append(metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", "))
    json.append("}}")
    Files.writeString(Paths.get(resultFile), json.toString)
    spark.stop()
  }

  private def layerMetrics(spark: SparkSession, wl: Workload, trace: Trace,
      passes: Seq[PassResult], cores: Int, work: String,
      traceFile: Option[String]): Seq[(String, Double, String)] = {
    val passSpans = trace.spans.filter(s => s.kind == "pass")
    val engine = passSpans.map(s => trace.engine(s, cores))
    val plans = passSpans.map(trace.plansUnder)
    val barrier = passSpans.map { s =>
      trace.jobsUnder(s).filter(j => j.callSite.toLowerCase.contains("checkpoint"))
        .map(j => j.endMs - j.startMs).sum / 1000.0
    }
    val tracedWall = median(passes.filter(_.traced).map(_.wallS))
    val untracedWall = median(passes.filterNot(_.traced).map(_.wallS))

    trace.attach()
    trace.pass += 1
    val (layers, _) = trace.span("pass", "layer probes") {
      new Probes(wl, trace, cores, work).run()
    }
    trace.detach()
    Seq("probe.g.vcf", "probe.gvcf.parquet", "probe.cli.out")
      .foreach(p => ScratchDirs.deleteRecursively(s"$work/$p"))
    val kernels = Kernels.run(wl.genome)

    traceFile.foreach { f =>
      val lines = trace.spans.map { s =>
        val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
        val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "$name", """ +
          s""""pass": ${s.pass}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "attrs": {$attrs}}"""
      }
      Files.writeString(Paths.get(f), lines.mkString("[\n", ",\n", "\n]\n"))
    }

    val unit: String => String = {
      case "jvm.cpu_s" => "core-s"
      case k if k.endsWith("_s") => "s"
      case k if k.endsWith("_mb") => "MB"
      case k if k.endsWith("_ns_per_read") => "ns"
      case k if k.endsWith("_frac") || k.endsWith("core_util") || k.endsWith("skew") ||
        k.endsWith("overhead") => "ratio"
      case _ => "count"
    }
    val engineMed = engine.headOption.map(_.keys).getOrElse(Nil)
      .map(k => k -> median(engine.map(_(k)))).toMap
    val all = mutable.LinkedHashMap.empty[String, Double]
    all ++= layers
    all ++= kernels
    all("util.barrier_s") = median(barrier)
    all("util.barrier_mb") = median(passes.filter(_.traced).map(_.barrierMb))
    all("plans.analysis_s") = median(plans.map(_.map(_.analysisMs).sum / 1000.0))
    all("plans.optimizer_s") = median(plans.map(_.map(_.optimizerMs).sum / 1000.0))
    all("plans.physical_s") = median(plans.map(_.map(_.physicalMs).sum / 1000.0))
    all ++= engineMed
    all("jvm.peak_live_heap_mb") = median(passes.map(_.heapMb))
    all("jvm.cpu_s") = median(passes.map(_.cpuS))
    all("trace.wall_traced_s") = tracedWall
    all("trace.wall_untraced_s") = untracedWall
    all("trace.overhead") = tracedWall / untracedWall
    all.toSeq.map { case (k, v) => (k, v, unit(k)) }
  }
}
