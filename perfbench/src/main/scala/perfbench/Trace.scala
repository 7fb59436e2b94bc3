package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval of a traced run. `kind` is pass, layer, job or
  * stage; times are epoch milliseconds, as Spark's listener events carry
  * them. A job's parent is the span that was open on the driver thread
  * when it was submitted; a stage's parent is its job.
  */
final case class Span(
    id: Long, parent: Long, kind: String, name: String, pass: Int,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty)

/** Per-stage task totals gathered from task-end events. */
final class StageStat(val id: Int, val name: String) {
  var jobId: Int = -1
  var numTasks: Int = 0
  var submitMs: Long = 0L
  var completeMs: Long = 0L
  val taskRunMs: ArrayBuffer[Long] = ArrayBuffer.empty
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleReadBytes: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
}

final class JobStat(val id: Int, val parent: Long, val startMs: Long, val callSite: String,
    val stageIds: Seq[Int]) {
  var endMs: Long = startMs
}

/** Planning phases of one executed query (`qe.tracker.phases`). */
final case class PlanPhases(atMs: Long, analysisMs: Long, optimizerMs: Long, physicalMs: Long)

/** Spans for the driver's own intervals plus a listener that records
  * Spark jobs, stages, tasks and query planning phases under them. Held
  * in memory; `spans` renders the whole tree when the run ends.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  private var nextId = 1L
  private val open = mutable.Stack.empty[Span]
  private val closed = ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stages = mutable.LinkedHashMap.empty[Int, StageStat]
  private val plans = ArrayBuffer.empty[PlanPhases]
  @volatile private var attached = false
  var pass: Int = 0

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this); spark.listenerManager.register(this); attached = true
  }

  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(this); spark.listenerManager.unregister(this); attached = false
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Run `f` inside a span; jobs it submits become the span's children. */
  def span[T](kind: String, name: String)(f: => T): (T, Span) = {
    val s0 = Span(nextId, open.headOption.map(_.id).getOrElse(0L), kind, name, pass,
      System.currentTimeMillis(), 0L)
    nextId += 1
    open.push(s0)
    sc.setLocalProperty(SpanKey, s0.id.toString)
    try {
      val r = f
      val s = s0.copy(endMs = System.currentTimeMillis())
      synchronized(closed += s)
      (r, s)
    } finally {
      open.pop()
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  // ---- listener ---------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    // the result stage's name is the job's call site, e.g. "save at Workloads.scala:84"
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = new JobStat(e.jobId, parent, e.time, site, e.stageIds)
    e.stageIds.foreach(id => stages.get(id).foreach(_.jobId = e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private def stage(info: StageInfo): StageStat = {
    val s = stages.getOrElseUpdate(info.stageId, new StageStat(info.stageId, info.name))
    if (s.jobId < 0)
      jobs.values.find(_.stageIds.contains(info.stageId)).foreach(j => s.jobId = j.id)
    s
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.numTasks = e.stageInfo.numTasks
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    s.numTasks = e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageStat(e.stageId, ""))
      s.taskRunMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val at = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
    synchronized(plans += PlanPhases(at, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ---- queries over the recorded tree -----------------------------------

  private def within(root: Span, id: Long): Boolean = {
    val byId = closed.map(s => s.id -> s).toMap
    var cur = id
    while (cur != 0L && cur != root.id) cur = byId.get(cur).map(_.parent).getOrElse(0L)
    cur == root.id
  }

  /** Jobs under `root`: submitted from inside it, or, when the job
    * carried no span, started within its interval.
    */
  def jobsUnder(root: Span): Seq[JobStat] = synchronized {
    jobs.values.filter { j =>
      if (j.parent != 0L) within(root, j.parent)
      else j.startMs >= root.startMs && j.startMs <= root.endMs
    }.toSeq
  }

  def stagesUnder(root: Span): Seq[StageStat] = synchronized {
    val ids = jobsUnder(root).map(_.id).toSet
    stages.values.filter(s => ids.contains(s.jobId) && s.submitMs > 0).toSeq
  }

  def plansUnder(root: Span): Seq[PlanPhases] = synchronized {
    plans.filter(p => p.atMs >= root.startMs && p.atMs <= root.endMs).toSeq
  }

  /** Engine metrics of one span: counts, task time, shuffle, GC, and the
    * share of the span no job was running.
    */
  def engine(root: Span, cores: Int): Map[String, Double] = synchronized {
    val js = jobsUnder(root)
    val ss = stagesUnder(root)
    val wallS = math.max(1L, root.endMs - root.startMs) / 1000.0
    val runS = ss.map(_.taskRunMs.sum).sum / 1000.0
    // union of job intervals clipped to the span
    val busyMs = js.map(j => (math.max(j.startMs, root.startMs), math.min(j.endMs, root.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (a >= reach) (acc + (b - a), b)
        else if (b > reach) (acc + (b - reach), b)
        else (acc, reach)
      }._1
    val longest = ss.sortBy(s => -(s.completeMs - s.submitMs)).headOption
    val skew = longest.filter(_.taskRunMs.nonEmpty).map { s =>
      val sorted = s.taskRunMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }.getOrElse(1.0)
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.taskRunMs.size).sum.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.core_util" -> runS / (wallS * cores),
      "spark.under_parallel_stages" -> ss.count(_.numTasks < cores).toDouble,
      "spark.driver_gap_s" -> math.max(0.0, wallS - busyMs / 1000.0),
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "spark.spill_mb" -> ss.map(_.spillBytes).sum / mb,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWriteBytes).sum / mb,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleReadBytes).sum / mb,
      "spark.task_skew" -> skew)
  }

  /** Every recorded span, jobs and stages included, in start order. */
  def spans: Seq[Span] = synchronized {
    val jobSpans = jobs.values.map(j => Span(1000000L + j.id, j.parent, "job",
      j.callSite, 0, j.startMs, j.endMs))
    val stageSpans = stages.values.filter(_.submitMs > 0).map(s => Span(2000000L + s.id,
      if (s.jobId >= 0) 1000000L + s.jobId else 0L, "stage", s.name, 0, s.submitMs, s.completeMs,
      Map("tasks" -> s.taskRunMs.size.toDouble, "task_run_ms" -> s.taskRunMs.sum.toDouble,
        "task_cpu_ms" -> s.cpuNs / 1e6, "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
        "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble)))
    val passOf = closed.map(s => s.id -> s.pass).toMap
    (closed.toSeq ++ jobSpans.map(j => j.copy(pass = passOf.getOrElse(j.parent, 0))) ++ stageSpans)
      .sortBy(s => (s.startMs, s.id))
  }
}

/** Largest old-generation occupancy after any GC since `reset`: the live
  * heap a pass needed, whatever the young generation held.
  */
object HeapTracker {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, u) if oldPools(k) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = peak = 0L

  /** Peak so far, or the old generation's current use if no GC ran. */
  def peakBytes: Long = {
    val now = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => oldPools(p.getName)).map(_.getUsage.getUsed).sum
    if (peak > 0) peak else now
  }
}
