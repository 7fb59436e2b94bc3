package perfbench

import graft.kernels.AlignmentOps
import org.scalatest.funsuite.AnyFunSuite

/** The generator's reads must describe the reference exactly, or a wrong
  * MD tag would show up as a caller error.
  */
class GenomeSpec extends AnyFunSuite {

  // the data sets the workloads generate
  private val germline = GermlineBam.genome(7L)
  private val cohort = CohortGvcf.genome(7L)

  test("CIGAR and MD of every read reproduce the reference window") {
    for (g <- Seq(germline, cohort)) {
      val ref = g.reference.toMap
      g.reads.foreach { r =>
        val ops = AlignmentOps.parse(r.cigar, r.mdTag)
        assert(AlignmentOps.extractReference(r.sequence, ops) ==
          ref(r.contigName).substring(r.start.toInt, r.end.toInt), r)
        assert(AlignmentOps.readLength(ops) == r.sequence.length, r)
        assert(r.qual.length == r.sequence.length, r)
      }
    }
  }

  test("planted alleles sit on the reference and are left-anchored") {
    val ref = germline.reference.toMap
    germline.truth.foreach { t =>
      val seq = ref(t.contigName)
      assert(seq.substring(t.start.toInt, t.start.toInt + t.ref.length) == t.ref, t)
      assert(t.ref != t.alt && t.ref.head == t.alt.head || t.isSnv, t)
    }
    val n = germline.truth.size
    val kinds = germline.truth.groupBy(t =>
      if (t.isSnv) "snv" else if (t.ref.length > 1) "del" else "ins").map { case (k, v) => k -> v.size }
    // every seed plants the same mix: IndelFrac of the sites, a third hom-alt
    assert(math.abs(kinds("snv") - (1 - GermlineBam.IndelFrac) * n) <= 1, kinds)
    assert(kinds("del") > 0 && kinds("ins") > 0, kinds)
    assert(math.abs(germline.truth.count(_.gt == 2) - n / 3.0) <= 1, n)
  }

  test("every read carries the variants of its haplotype") {
    val hets = germline.truth.filter(t => t.isSnv && t.gt == 1)
    val homs = germline.truth.filter(t => t.isSnv && t.gt == 2)
    def altShare(t: Truth): Double = {
      val cover = germline.reads.filter(r => !r.duplicateRead && r.contigName == t.contigName &&
        r.start <= t.start && r.end > t.start && !r.cigar.exists("ID".contains(_)))
      cover.count(r => r.sequence.charAt((t.start - r.start).toInt).toString == t.alt).toDouble /
        cover.size
    }
    assert(homs.forall(altShare(_) > 0.95))
    val het = hets.map(altShare)
    assert(het.sum / het.size > 0.4 && het.sum / het.size < 0.6)
  }

  test("read properties: coverage, duplicates, low MAPQ, both strands") {
    val reads = germline.reads
    val dups = reads.count(_.duplicateRead).toDouble / reads.size
    val lowMapq = reads.count(_.mapq < 10).toDouble / reads.size
    val reverse = reads.count(_.readNegativeStrand).toDouble / reads.size
    assert(dups > 0.015 && dups < 0.045, dups)
    assert(lowMapq > 0.01 && lowMapq < 0.03, lowMapq)
    assert(reverse > 0.45 && reverse < 0.55, reverse)
    val bases = reads.filterNot(_.duplicateRead).map(r => r.end - r.start).sum
    val coverage = bases.toDouble / (Genome.Contigs * GermlineBam.ContigLength)
    assert(coverage > 28 && coverage < 32, coverage)
    assert(reads.map(_.contigName).distinct.forall(_.matches("chr[0-9]+")))
  }

  test("cohort samples share half of their sites") {
    val bySite = cohort.truth.groupBy(t => (t.contigName, t.start))
    for (s <- CohortGvcf.Samples) {
      val mine = cohort.truth.filter(_.sample == s)
      val shared = mine.count(t => bySite((t.contigName, t.start)).size == 3).toDouble / mine.size
      assert(shared > 0.45 && shared < 0.55, s"$s $shared")
    }
    assert(cohort.truth.forall(_.isSnv))
  }

  test("the same seed gives the same data") {
    assert(GermlineBam.genome(7L) == germline)
    assert(GermlineBam.genome(8L).reads != germline.reads)
  }
}
