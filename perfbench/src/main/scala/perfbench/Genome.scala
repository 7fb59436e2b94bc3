package perfbench

import graft.model.Read

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** A planted variant in the left-anchored form `DiscoverVariants`
  * reports: an indel's `start` is the reference base before it, `ref`
  * and `alt` both begin with that base. `gt` is the number of alt copies
  * (1 = het, 2 = hom-alt); `hap` is the carrying haplotype of a het.
  */
final case class Truth(
    sample: String, contigName: String, start: Long,
    ref: String, alt: String, gt: Int, hap: Int) {
  def isSnv: Boolean = ref.length == 1 && alt.length == 1
  def key: (String, String, Long, String, String) = (sample, contigName, start, ref, alt)
}

/** One generated data set: reference contigs, planted truth, reads. */
final case class Genome(
    reference: Seq[(String, String)],
    truth: Seq[Truth],
    reads: Seq[Read])

/** Seeded generator of a diploid genome, planted variants and aligned
  * reads with exact CIGAR and MD tags. The same seed and sizes always
  * give the same data.
  */
object Genome {

  val Contigs = 3
  val Coverage = 30.0
  val ReadLength = 100
  /** Mean distance between planted sites of one sample. */
  val VariantSpacing = 200
  val HomFrac = 1.0 / 3
  /** Per base. */
  val ErrorRate = 0.001
  /** Per read. */
  val DupRate = 0.03
  /** Per read: reads with MAPQ below 10. */
  val LowMapqRate = 0.02

  private val Bases = "ACGT"
  /** Planted sites keep this far from contig ends, so they get full coverage. */
  private val EdgeMargin = 250

  def reference(rnd: Random, contigLength: Int): Seq[(String, String)] =
    (1 to Contigs).map { c =>
      val sb = new StringBuilder(contigLength)
      (0 until contigLength).foreach(_ => sb.append(Bases.charAt(rnd.nextInt(4))))
      s"chr$c" -> sb.toString
    }

  private def otherBase(rnd: Random, b: Char): Char = {
    val c = Bases.charAt(rnd.nextInt(3))
    if (c >= b) Bases.charAt(Bases.indexOf(c) + 1) else c
  }

  /** A variant of `kind` (0 SNV, 1 deletion, 2 insertion; indels 1-3 bp)
    * at `pos`. Indel bases differ from the anchor and the base after the
    * event, so the left-anchored form is the only one; a deletion that
    * cannot meet that at any length becomes an insertion.
    */
  private def variantAt(rnd: Random, seq: String, pos: Int, kind: Int): (String, String) = {
    val anchor = seq.charAt(pos)
    val k = 1 + rnd.nextInt(3)
    val deletion = if (kind != 1) None else (0 until 3).map(i => 1 + (k + i) % 3).find { n =>
      seq.charAt(pos + 1) != anchor && seq.charAt(pos + n) != seq.charAt(pos + 1 + n)
    }
    if (kind == 0) (anchor.toString, otherBase(rnd, anchor).toString)
    else deletion match {
      case Some(n) => (anchor.toString + seq.substring(pos + 1, pos + 1 + n), anchor.toString)
      case None =>
        val next = seq.charAt(pos + 1)
        val ins = (0 until k).map(_ => {
          var b = Bases.charAt(rnd.nextInt(4))
          while (b == anchor || b == next) b = Bases.charAt(rnd.nextInt(4))
          b
        }).mkString
        (anchor.toString, anchor.toString + ins)
    }
  }

  /** `n` labels with exact shares: the first `share(i)` of them `i`,
    * shuffled, so every seed plants the same mix.
    */
  private def exactMix(rnd: Random, n: Int, shares: Seq[Double]): IndexedSeq[Int] = {
    val counts = shares.map(f => math.round(f * n).toInt)
    val labels = shares.indices.flatMap(i => Seq.fill(counts(i))(i)).take(n)
    rnd.shuffle(labels ++ Seq.fill(n - labels.size)(0))
  }

  /** Site positions, spaced `spacing` apart on average (uniform in
    * [spacing/2, 3*spacing/2)), away from contig ends.
    */
  private def sites(rnd: Random, length: Int, spacing: Int): Seq[Int] = {
    val out = ArrayBuffer.empty[Int]
    var p = EdgeMargin + rnd.nextInt(spacing)
    while (p < length - EdgeMargin) {
      out += p
      p += spacing / 2 + rnd.nextInt(spacing)
    }
    out.toSeq
  }

  /** Genotypes (alt copies, het haplotype) with exactly `HomFrac` hom-alt. */
  private def genotypes(rnd: Random, n: Int): IndexedSeq[(Int, Int)] =
    exactMix(rnd, n, Seq(1 - HomFrac, HomFrac)).map(h => (h + 1, rnd.nextInt(2)))

  /** Variants of one sample: one site per `VariantSpacing` bp, with
    * exactly `indelFrac` indels (half deletions) and `HomFrac` hom-alt.
    */
  def plant(rnd: Random, ref: Seq[(String, String)], indelFrac: Double, sample: String): Seq[Truth] = {
    val at = ref.flatMap { case (contig, seq) =>
      sites(rnd, seq.length, VariantSpacing).map(p => (contig, seq, p))
    }
    val kinds = exactMix(rnd, at.size, Seq(1 - indelFrac, indelFrac / 2, indelFrac / 2))
    val gts = genotypes(rnd, at.size)
    at.indices.map { i =>
      val (contig, seq, p) = at(i)
      val (r, a) = variantAt(rnd, seq, p, kinds(i))
      Truth(sample, contig, p, r, a, gts(i)._1, gts(i)._2)
    }
  }

  /** SNV-only variants of a cohort whose samples share half of their
    * sites: 1/(n+1) of the sites are shared by all samples, the rest are
    * private to one sample each, in equal numbers, so each sample carries
    * one site per `VariantSpacing` bp.
    */
  def plantCohort(rnd: Random, ref: Seq[(String, String)], samples: Seq[String]): Seq[Truth] = {
    val n = samples.size
    val slotSpacing = VariantSpacing * 2 / (n + 1)
    val at = ref.flatMap { case (contig, seq) =>
      sites(rnd, seq.length, slotSpacing).map(p => (contig, seq, p))
    }
    // label 0: shared; label i: private to sample i
    val owners = exactMix(rnd, at.size, (1.0 +: Seq.fill(n)(1.0)).map(_ / (n + 1)))
    val entries = at.indices.flatMap { i =>
      val (contig, seq, p) = at(i)
      val anchor = seq.charAt(p)
      val alt = otherBase(rnd, anchor).toString
      val carriers = if (owners(i) == 0) samples else Seq(samples(owners(i) - 1))
      carriers.map(s => (s, contig, p, anchor.toString, alt))
    }
    val gts = genotypes(rnd, entries.size)
    entries.indices.map { i =>
      val (s, contig, p, r, a) = entries(i)
      Truth(s, contig, p, r, a, gts(i)._1, gts(i)._2)
    }
  }

  /** Reads of one sample at `Coverage`, each from a random haplotype and
    * strand. The read walks the haplotype from its start and records
    * exactly the CIGAR and MD that describe it against the reference.
    * A share of reads is marked duplicate (an extra flagged copy) or
    * gets MAPQ below 10.
    */
  def reads(rnd: Random, ref: Seq[(String, String)], truth: Seq[Truth],
      sample: String): Seq[Read] = {
    val out = ArrayBuffer.empty[Read]
    var serial = 0
    ref.foreach { case (contig, seq) =>
      val mine = truth.filter(t => t.sample == sample && t.contigName == contig)
      // per haplotype: anchor position -> variant
      val haps = (0 to 1).map { h =>
        mine.filter(t => t.gt == 2 || t.hap == h).map(t => t.start.toInt -> t).toMap
      }
      val deleted = haps.map { m =>
        val d = new Array[Boolean](seq.length)
        m.values.foreach(t => (1 until t.ref.length).foreach(i => d(t.start.toInt + i) = true))
        d
      }
      val n = (Coverage * seq.length / ReadLength).toInt
      (0 until n).foreach { _ =>
        val h = rnd.nextInt(2)
        var s = rnd.nextInt(seq.length - ReadLength)
        while (deleted(h)(s)) s += 1
        val read = walk(rnd, contig, seq, s, haps(h))
        serial += 1
        val mapq = if (rnd.nextDouble() < LowMapqRate) rnd.nextInt(10) else 60
        val r = read.copy(readName = s"$sample-r$serial", mapq = mapq,
          readNegativeStrand = rnd.nextBoolean(), sampleId = sample)
        out += r
        if (rnd.nextDouble() < DupRate)
          out += r.copy(readName = r.readName + "-dup", duplicateRead = true)
      }
    }
    out.sortBy(r => (r.contigName, r.start)).toSeq
  }

  private def walk(rnd: Random, contig: String, seq: String, start: Int,
      hap: Map[Int, Truth]): Read = {
    val bases = new StringBuilder
    val qual = new StringBuilder
    val cigar = ArrayBuffer.empty[(Int, Char)]
    val md = new StringBuilder
    var run = 0 // MD match run
    def op(n: Int, c: Char): Unit =
      if (cigar.nonEmpty && cigar.last._2 == c) cigar(cigar.size - 1) = (cigar.last._1 + n, c)
      else cigar += ((n, c))
    def q(): Char = (33 + 25 + rnd.nextInt(16)).toChar
    def matchBase(refBase: Char, readBase: Char): Unit = {
      bases.append(readBase); qual.append(q()); op(1, 'M')
      if (readBase == refBase) run += 1
      else { md.append(run).append(refBase); run = 0 }
    }
    def refBase(p: Int): Unit = {
      val b = seq.charAt(p)
      matchBase(b, if (rnd.nextDouble() < ErrorRate) otherBase(rnd, b) else b)
    }
    val len = ReadLength
    var p = start
    var done = false
    while (!done && bases.length < len && p < seq.length) {
      hap.get(p) match {
        case Some(t) if t.isSnv =>
          matchBase(seq.charAt(p), t.alt.charAt(0)); p += 1
        case Some(t) if t.ref.length > 1 => // deletion after the anchor
          refBase(p)
          val k = t.ref.length - 1
          if (bases.length < len && p + 1 + k < seq.length) {
            op(k, 'D'); md.append(run).append('^').append(t.ref.substring(1)); run = 0
            p += 1 + k
          } else { p += 1; done = true }
        case Some(t) => // insertion after the anchor
          val k = t.alt.length - 1
          if (len - bases.length > k + 1) {
            refBase(p)
            bases.append(t.alt.substring(1)); (0 until k).foreach(_ => qual.append(q()))
            op(k, 'I'); p += 1
          } else done = true
        case None =>
          refBase(p); p += 1
      }
    }
    md.append(run)
    Read(
      readName = "", contigName = contig, start = start, end = p,
      sequence = bases.toString, qual = qual.toString,
      cigar = cigar.map { case (n, c) => s"$n$c" }.mkString, mdTag = md.toString,
      mapq = 60, readMapped = true, readNegativeStrand = false,
      duplicateRead = false, primaryAlignment = true, sampleId = "")
  }

  /** The germline data set: one sample with SNVs and indels. */
  def germline(seed: Long, contigLength: Int, indelFrac: Double, sample: String): Genome = {
    val rnd = new Random(seed)
    val ref = reference(rnd, contigLength)
    val truth = plant(rnd, ref, indelFrac, sample)
    Genome(ref, truth, reads(rnd, ref, truth, sample))
  }

  /** The cohort data set: SNV-only samples on a shared reference. */
  def cohort(seed: Long, contigLength: Int, samples: Seq[String]): Genome = {
    val rnd = new Random(seed)
    val ref = reference(rnd, contigLength)
    val truth = plantCohort(rnd, ref, samples)
    Genome(ref, truth, samples.flatMap(s => reads(rnd, ref, truth, s)))
  }
}
