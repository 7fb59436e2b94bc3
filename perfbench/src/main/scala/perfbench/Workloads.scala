package perfbench

import java.io.File
import java.nio.file.Files

import graft.cli.Main
import graft.genomics._
import graft.kernels.AlignmentOps
import graft.model.{DiscoveredVariant, Read}
import graft.operators.IntervalJoin
import graft.sources.{Bam, Vcf}
import graft.util.Barriers
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The outcome of checking one pass's outputs against the planted truth. */
final case class Score(problems: Seq[String], metrics: Map[String, Double], digest: String)

/** Calls compared with the truth by site key; precision and recall are
  * 1 when there is nothing to find and nothing was called.
  */
object Accuracy {
  type Key = (String, String, Long, String, String)

  def apply(truth: Seq[Truth], called: Map[Key, Int]): Map[String, Double] = {
    def ratio(a: Int, b: Int): Double = if (b == 0) 1.0 else a.toDouble / b
    val (tSnv, tIndel) = truth.partition(_.isSnv)
    val isSnv = (k: Key) => k._4.length == 1 && k._5.length == 1
    val (cSnv, cIndel) = called.partition { case (k, _) => isSnv(k) }
    val truthGt = truth.map(t => t.key -> t.gt).toMap
    val hits = called.keys.filter(truthGt.contains).toSeq
    Map(
      "snv_recall" -> ratio(tSnv.count(t => cSnv.contains(t.key)), tSnv.size),
      "snv_precision" -> ratio(cSnv.keys.count(truthGt.contains), cSnv.size),
      "indel_recall" -> ratio(tIndel.count(t => cIndel.contains(t.key)), tIndel.size),
      "indel_precision" -> ratio(cIndel.keys.count(truthGt.contains), cIndel.size),
      "gt_concordance" -> ratio(hits.count(k => called(k) == truthGt(k)), hits.size))
  }

  /** The accuracy a pass must reach to count as correct: a floor that
    * catches a broken caller, not the paper's figure, which the metrics
    * themselves report.
    */
  val Floors: Map[String, Double] = Map(
    "snv_recall" -> 0.90, "snv_precision" -> 0.90, "gt_concordance" -> 0.90,
    "indel_recall" -> 0.80, "indel_precision" -> 0.80)

  def problems(m: Map[String, Double]): Seq[String] =
    Floors.toSeq.sorted.collect { case (k, floor) if m(k) < floor => f"$k ${m(k)}%.4f below $floor" }
}

/** Wraps each layer call of a pass; a traced pass opens a span per call. */
trait Step {
  def apply(name: String)(f: => Unit): Unit
}

object Step {
  val Plain: Step = new Step { def apply(name: String)(f: => Unit): Unit = f }
}

/** One benchmark workload: inputs made from a seed, one pass through the
  * program's public entry points, and the check of its outputs.
  */
trait Workload {
  def name: String
  def spark: SparkSession
  def genome: Genome
  /** Write the inputs under `dir`. */
  def prepare(dir: String): Unit
  /** Use the inputs under `dir` for the passes that follow. */
  def use(dir: String): Unit
  /** One pass; every output goes under `out`. The pass releases what its
    * own calls persisted and returns the MB of blocks that held.
    */
  def pass(out: String, step: Step): Double
  def score(out: String): Score
  /** The reads as the pass's first layer delivers them. */
  def source(): Dataset[Read]
  def perSample: Boolean
  /** Arguments of the CLI command the pass ends with. */
  def cliArgs(in: String, out: String): Array[String]
  /** The same command's plan, without its sink. */
  def cliPlan(in: String): DataFrame
  /** A BAM holding the workload's reads, for the decode layer. */
  def bamPath(): String
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "germline_bam" => new GermlineBam(spark, seed)
    case "cohort_gvcf"  => new CohortGvcf(spark, seed)
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Ids of the session's persisted RDDs. */
  def persisted(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist the RDDs persisted since `before`; returns the MB of blocks they held. */
  def release(spark: SparkSession, before: Set[Int]): Double = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.filterNot(i => before.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
    bytes / 1048576.0
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Data lines of a directory of VCF text part files. */
  def vcfLines(dir: String): Seq[String] =
    new File(dir).listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .toSeq.flatMap(f => Files.readAllLines(f.toPath).asScala)
}

object GermlineBam {
  val Sample = "NA00001"
  val ContigLength = 20000
  val IndelFrac = 0.2
  def genome(seed: Long): Genome = Genome.germline(seed, ContigLength, IndelFrac, Sample)
}

/** Avocado's flagship command on a BAM: `biallelicGenotyper`. */
final class GermlineBam(val spark: SparkSession, seed: Long) extends Workload {
  import GermlineBam._
  import Workload._
  val name = "germline_bam"
  lazy val genome: Genome = GermlineBam.genome(seed)
  private var bam = ""
  val perSample = false

  def prepare(dir: String): Unit = {
    new File(dir).mkdirs()
    Bam.write(GermlineBam.genome(seed).reads, s"$dir/reads.bam", Sample)
  }
  def use(dir: String): Unit = bam = s"$dir/reads.bam"
  def bamPath(): String = bam
  def source(): Dataset[Read] = Bam.read(spark, bam)

  def cliArgs(in: String, out: String): Array[String] = Array("biallelicGenotyper", in, out)

  def pass(out: String, step: Step): Double = {
    step("cli.biallelicGenotyper")(Main.main(cliArgs(bam, s"$out/calls.parquet")))
    0.0
  }

  def cliPlan(in: String): DataFrame = {
    import spark.implicits._
    val reads = PrefilterReads(Bam.read(spark, in))
    val variants = DiscoverVariants.discover(reads, 20, 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
    RewriteHets(HardFilterGenotypes(BiallelicGenotyper.call(
      reads, variants, ploidy = 2, binSize = BiallelicGenotyper.chooseBinSize(reads))))
  }

  def score(out: String): Score = {
    val rows = spark.read.parquet(s"$out/calls.parquet")
      .select("sampleId", "contigName", "start", "referenceAllele", "alternateAllele",
        "genotypeState", "filtersPassed")
      .collect().toSeq
    val problems = Seq.newBuilder[String]
    val keys = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
      Option(r.getString(4)).getOrElse("")))
    if (rows.isEmpty) problems += "no calls"
    if (keys.distinct.size != keys.size) problems += "duplicate call sites"
    if (rows.exists(_.getString(0) != Sample)) problems += "calls for an unknown sample"
    val called = rows.zip(keys).collect {
      case (r, k) if r.getInt(5) > 0 && r.getBoolean(6) => k -> r.getInt(5)
    }.toMap
    val m = Accuracy(genome.truth, called)
    problems ++= Accuracy.problems(m)
    Score(problems.result(), m, digest(rows.map(_.mkString("\t"))))
  }
}

object CohortGvcf {
  val Samples = Seq("S1", "S2", "S3")
  val ContigLength = 2000
  def genome(seed: Long): Genome = Genome.cohort(seed, ContigLength, Samples)
}

/** A three-sample cohort from parquet reads: per-sample gVCF calling, the
  * cohort gVCF written with `Vcf.write`, then the `jointer` command over
  * that gVCF.
  *
  * The jointer loses every site not called in all samples when it reads
  * a VCF gVCF: `Vcf.write` leaves a `./.` cell for a sample without a row
  * at a site, `Vcf.read` turns that cell into a state -1 row carrying the
  * site's alt allele, square-off prefers it to the sample's reference
  * block, and the joint caller's allele count sums the -1s to zero. The
  * accuracy metrics report that joint call as it is; the check holds the
  * per-sample calls in the gVCF to the accuracy floors.
  */
final class CohortGvcf(val spark: SparkSession, seed: Long) extends Workload {
  import CohortGvcf._
  import Workload._
  import spark.implicits._
  val name = "cohort_gvcf"
  lazy val genome: Genome = CohortGvcf.genome(seed)
  private var dir = ""
  val perSample = true

  def prepare(d: String): Unit =
    spark.createDataset(CohortGvcf.genome(seed).reads)
      .write.parquet(s"$d/reads.parquet")
  def use(d: String): Unit = dir = d
  def source(): Dataset[Read] = spark.read.parquet(s"$dir/reads.parquet").as[Read]

  def bamPath(): String = {
    val p = s"$dir/reads.bam"
    if (!new File(p).exists()) Bam.write(genome.reads.filter(_.sampleId == Samples.head), p, Samples.head)
    p
  }

  /** The cohort's gVCF rows: per-sample discovery and calling of every site. */
  def gvcf(reads: Dataset[Read]): DataFrame = {
    val vs = DiscoverVariants.discoverPerSample(reads, minPhred = 20, minObservations = 2)
      .select("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
      .localCheckpoint()
    BiallelicGenotyper
      .callPerSample(reads, vs, scoreAllSites = true, materializePileup = true)
      .transform(Barriers.corpusScale)
  }

  def cliArgs(in: String, out: String): Array[String] = Array("jointer", in, out, "-from_gvcf")

  def pass(out: String, step: Step): Double = {
    val before = persisted(spark)
    var g: DataFrame = null
    step("genomics.gvcf_call") { g = gvcf(source()) }
    step("sources.vcf_write")(Vcf.write(g, s"$out/cohort.g.vcf"))
    val barrierMb = release(spark, before)
    step("cli.jointer")(Main.main(cliArgs(s"$out/cohort.g.vcf", s"$out/joint.vcf")))
    barrierMb
  }

  def cliPlan(in: String): DataFrame =
    JointAnnotatorCaller(SquareOff.squareOff(spark.read.parquet(in)))
      .withColumn("genotypeState", col("recalledState"))
      .withColumn("genotypeQuality", col("recalledQuality"))

  /** Sample calls of a multi-sample VCF by site key, with their alt-allele count. */
  private def sampleCalls(lines: Seq[String], problems: collection.mutable.Growable[String],
      what: String): Map[Accuracy.Key, Int] = {
    val header = lines.find(_.startsWith("#CHROM")).map(_.split("\t").drop(9).toSeq)
    if (!header.contains(Samples)) problems += s"$what samples ${header.getOrElse(Nil)}"
    val data = lines.filterNot(_.startsWith("#")).map(_.split("\t"))
    if (data.isEmpty) problems += s"no $what calls"
    val called = data.flatMap { f =>
      val alt = f(4)
      val gtAt = f(8).split(":").indexOf("GT")
      Samples.zipWithIndex.flatMap { case (s, i) =>
        val gt = f(9 + i).split(":")(gtAt)
        val n = gt.split("[/|]").count(_ == "1")
        if (alt != "." && alt != "<NON_REF>" && !gt.contains(".") && n > 0)
          Some((s, f(0), f(1).toLong - 1, f(3), alt) -> n)
        else None
      }
    }
    if (called.map(_._1).distinct.size != called.size) problems += s"duplicate $what calls"
    called.toMap
  }

  /** The metrics score the joint call; the check holds the gVCF's
    * per-sample calls to the floors.
    */
  def score(out: String): Score = {
    val problems = Seq.newBuilder[String]
    val gvcf = vcfLines(s"$out/cohort.g.vcf")
    val gvcfData = gvcf.filterNot(_.startsWith("#"))
    // one gVCF line per covered position: nearly the whole reference
    val refBases = genome.reference.map(_._2.length).sum
    if (gvcfData.size < 0.9 * refBases)
      problems += s"gVCF has ${gvcfData.size} lines for $refBases reference bases"
    problems ++= Accuracy.problems(Accuracy(genome.truth, sampleCalls(gvcf, problems, "gVCF")))
      .map(p => s"gVCF calls: $p")
    val joint = vcfLines(s"$out/joint.vcf")
    val m = Accuracy(genome.truth, sampleCalls(joint, problems, "joint VCF"))
    Score(problems.result(), m, digest(joint ++ gvcfData))
  }
}

/** Per-layer probes of a traced run: each layer's public function on
  * materialized inputs, forced through the noop sink inside its own span,
  * so a span is the layer's self time.
  */
final class Probes(wl: Workload, trace: Trace, cores: Int, work: String) {
  import Workload._
  private val spark = wl.spark
  import spark.implicits._
  private var buildS = 0.0
  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def dur(s: Span): Double = (s.endMs - s.startMs) / 1000.0

  /** Time building the layer's frame and forcing it through noop. */
  private def layer(metric: String)(build: => DataFrame): Span = {
    val (_, s) = trace.span("layer", metric) {
      val t0 = System.nanoTime()
      val df = build
      buildS += (System.nanoTime() - t0) / 1e9
      noop(df)
    }
    out(metric) = dur(s)
    s
  }

  private def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
  }

  private def tasks(s: Span): Double = {
    trace.drain(); trace.stagesUnder(s).map(_.taskRunMs.size).sum.toDouble
  }

  def run(): Map[String, Double] = {
    val decode = layer("sources.bam_decode_s")(Bam.read(spark, wl.bamPath()).toDF)
    out("sources.bam_decode_tasks") = tasks(decode)

    val raw = materialize(wl.source())
    val reads = materialize(PrefilterReads(raw))
    out("genomics.prefilter_kept_frac") = reads.count().toDouble / raw.count()
    val (chosen, bs) = trace.span("layer", "cli.bin_size_s") {
      BiallelicGenotyper.chooseBinSize(PrefilterReads(wl.source()))
    }
    out("cli.bin_size_s") = dur(bs)
    // the bin size each workload's own pass uses
    val binSize = if (wl.perSample) 1000.0 else chosen

    def discover(): DataFrame =
      if (wl.perSample) DiscoverVariants.discoverPerSample(reads, 20, 2)
      else DiscoverVariants.discover(reads, 20, 2).withColumn("sampleId", lit(wl.genome.reads.head.sampleId))
    layer("genomics.discover_s")(discover())
    val variants = materialize(discover()
      .select("sampleId", "contigName", "start", "referenceAllele", "alternateAllele"))
    val cand = variants.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
    val truthKeys = wl.genome.truth.map(_.key).toSet
    out("genomics.candidates") = cand.length.toDouble
    out("genomics.candidate_true_frac") =
      if (cand.isEmpty) 0.0 else cand.count(truthKeys.contains).toDouble / cand.length

    layer("genomics.pileup_s")(Observer.compressedPileup(reads))
    val pileup = materialize(Observer.compressedPileup(reads))
    val pileupRows = pileup.count()
    out("genomics.pileup_rows") = pileupRows.toDouble
    out("genomics.bases_per_pileup_row") =
      pileup.agg(sum(col("w"))).head().getLong(0).toDouble / math.max(1L, pileupRows)

    val isSnv = length(col("referenceAllele")) === 1 && length(col("alternateAllele")) === 1
    val snvV = variants.where(isSnv)
    val indelV = variants.where(!isSnv)
    def call(vs: DataFrame, gvcf: Boolean = false): DataFrame =
      if (wl.perSample)
        BiallelicGenotyper.callPerSample(reads, vs, binSize = binSize, scoreAllSites = gvcf,
          materializePileup = gvcf)
      else BiallelicGenotyper.call(reads, vs.drop("sampleId").as[DiscoveredVariant],
        binSize = binSize, scoreAllSites = gvcf)
    layer("genomics.snv_call_s")(call(snvV))
    layer("genomics.indel_call_s")(call(indelV))

    val indelSide = indelV.select(col("contigName").as("v_contig"), col("start").as("v_start"),
      (col("start") + length(col("referenceAllele"))).as("v_end"), col("sampleId").as("v_sample"))
    def joined(): DataFrame = IntervalJoin.overlap(reads.toDF, "start", "end", indelSide,
      "v_start", "v_end", binSize,
      keys = Seq("contigName" -> "v_contig", "sampleId" -> "v_sample"), broadcastRight = true)
    layer("operators.interval_join_s")(joined())
    val joinRows = joined().count()
    out("operators.interval_join_rows") = joinRows.toDouble
    val snvObs = pileup.join(broadcast(snvV), pileup("contigName") === snvV("contigName") &&
      pileup("pos") === snvV("start") && pileup("sampleId") === snvV("sampleId")).count()
    out("genomics.obs_rows") = (snvObs + joinRows).toDouble

    val calls = materialize(call(variants))
    layer("genomics.filter_s")(RewriteHets(HardFilterGenotypes(calls)))

    val (gvcf, gs) = trace.span("layer", "genomics.gvcf_call_s") {
      val g = call(variants, gvcf = true).transform(Barriers.corpusScale)
      g.count(); g
    }
    out("genomics.gvcf_call_s") = dur(gs)
    out("genomics.gvcf_rows") = gvcf.count().toDouble
    layer("genomics.squareoff_s")(SquareOff.squareOff(gvcf))
    val squared = materialize(SquareOff.squareOff(gvcf))
    layer("genomics.joint_s")(JointAnnotatorCaller(squared))

    val vcfDir = s"$work/probe.g.vcf"
    val (_, ws) = trace.span("layer", "sources.vcf_write_s")(Vcf.write(gvcf, vcfDir))
    out("sources.vcf_write_s") = dur(ws)
    layer("sources.vcf_read_s")(Vcf.read(spark, vcfDir))

    // the CLI command against the same plan through noop: the difference is the sink
    val cliIn =
      if (!wl.perSample) wl.bamPath()
      else { val p = s"$work/probe.gvcf.parquet"; gvcf.write.parquet(p); p }
    val (_, cli) = trace.span("layer", "cli.command")(Main.main(wl.cliArgs(cliIn, s"$work/probe.cli.out")))
    val (_, plan) = trace.span("layer", "cli.noop_plan")(noop(wl.cliPlan(cliIn)))
    out("cli.sink_s") = dur(cli) - dur(plan)
    out("plans.build_s") = buildS
    Seq(raw, reads, variants, pileup, calls, squared).foreach(_.unpersist(blocking = true))
    out.toMap
  }

}

/** Kernel throughput on one driver thread over a fixed sample of reads. */
object Kernels {
  /** Median over seven sweeps of the time per call of `f(0 until n)`. */
  private def nsPerRead(n: Int)(f: Int => Int): Double = {
    var sink = 0L
    val per = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink < 0) println(sink) // keeps the results live
    per.sorted.apply(3)
  }

  def run(genome: Genome, n: Int = 4000): Map[String, Double] = {
    val sample = genome.reads.filterNot(_.duplicateRead).take(n).toIndexedSeq
    val indels = genome.truth.filterNot(_.isSnv)
    val targets = if (indels.nonEmpty) indels else genome.truth
    val byContig = targets.groupBy(_.contigName)
    val overlapping = genome.reads.iterator.filterNot(_.duplicateRead).flatMap { r =>
      val vs = byContig.getOrElse(r.contigName, Nil)
        .filter(t => t.sample == r.sampleId && t.start >= r.start && t.start < r.end)
        .map(t => DiscoveredVariant(t.contigName, t.start, t.ref, Some(t.alt)))
      if (vs.isEmpty) None else Some((r, vs))
    }.take(n).toIndexedSeq
    Map(
      "kernels.parse_ns_per_read" -> nsPerRead(sample.size) { i =>
        AlignmentOps.parse(sample(i).cigar, sample(i).mdTag).size },
      "kernels.discover_ns_per_read" -> nsPerRead(sample.size) { i =>
        DiscoverVariants.variantsInRead(sample(i), 20).size },
      "kernels.base_pileup_ns_per_read" -> nsPerRead(sample.size) { i =>
        Observer.basePileup(sample(i)).size },
      "kernels.observe_ns_per_read" -> nsPerRead(overlapping.size) { i =>
        Observer.observe(overlapping(i)._1, overlapping(i)._2).size })
  }
}
