package graft.genomics

import graft.SparkSpec
import graft.model.{DiscoveredVariant, Read}
import graft.sources.{Sam, Vcf}
import org.apache.spark.sql.functions._

/** gVCF model end-to-end: the reference's multiallelic fixture
  * (gvcf_multiallelic.g.vcf, assertions mirrored from its
  * SquareOffReferenceModelSuite), scoreAllSites reference-block
  * emission, and square-off over the engine's own gVCF and its VCF
  * round trip.
  */
class GvcfSpec extends SparkSpec {

  private val res = "/root/reference/avocado-core/src/test/resources"

  test("multiallelic gVCF: extractVariants finds only the called alts, right-trimmed") {
    val gvcf = Vcf.read(spark, s"$res/gvcf_multiallelic.g.vcf")
    val variants = SquareOff.extractVariants(gvcf).collect()
    assert(variants.length === 3)
    assert(variants.forall(_.getAs[String]("contigName") == "chr22"))
    val s602 = variants.filter(_.getAs[Long]("start") == 16157602L)
    assert(s602.length === 1)
    assert(s602.head.getAs[String]("referenceAllele") === "G")
    assert(s602.head.getAs[String]("alternateAllele") === "C")
    assert(s602.head.getAs[Long]("end") === 16157603L)
    // TAAA->TA right-trims to TAA->T; TAAA->TAA to TA->T; TAAA->T (the
    // uncalled allele 1 in GT 2/3) must NOT appear
    val s095 = variants.filter(_.getAs[Long]("start") == 18030095L)
    assert(s095.length === 2)
    assert(s095.forall(_.getAs[String]("alternateAllele") == "T"))
    val byRef = s095.map(r => r.getAs[String]("referenceAllele") -> r.getAs[Long]("end")).toMap
    assert(byRef === Map("TAA" -> 18030098L, "TA" -> 18030097L))
  }

  test("multiallelic gVCF: reference blocks carry END and null alt") {
    val gvcf = Vcf.read(spark, s"$res/gvcf_multiallelic.g.vcf")
    val blocks = gvcf.where(col("alternateAllele").isNull).collect()
    assert(blocks.length === 2)
    val b1 = blocks.filter(_.getAs[Long]("start") == 16157520L)
    assert(b1.length === 1)
    assert(b1.head.getAs[Long]("end") === 16157602L)
    assert(b1.head.getAs[Int]("genotypeState") === 0)
    // PL 0,0,45 -> gl_0 = 0, gl_2 = -4.5*ln(10)
    assert(math.abs(b1.head.getAs[Double]("gl_0")) < 1e-9)
    assert(math.abs(b1.head.getAs[Double]("gl_2") + 4.5 * math.log(10)) < 1e-9)
    // multiallelic per-alt states: GT 2/3 -> TA and TAA called once each
    val s095 = gvcf.where(col("start") === 18030095L &&
      col("alternateAllele").isNotNull).collect()
    assert(s095.map(r => r.getAs[String]("alternateAllele") -> r.getAs[Int]("genotypeState")).toMap
      === Map("T" -> 0, "TA" -> 1, "TAA" -> 1))
  }

  test("scoreAllSites emits reference-model rows at non-variant positions") {
    import spark.implicits._
    val reads = Sam.read(spark, s"$res/NA12878_snp_A2G_chr20_225058.sam", "NA12878")
      .filter(_.mapq > 0)
    val variants = DiscoverVariants.discover(reads, minPhred = 20, minObservations = 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
    val gvcf = BiallelicGenotyper.call(reads, variants, ploidy = 2,
      binSize = 512.0, scoreAllSites = true)
    val nonRef = gvcf.where(col("alternateAllele").isNull)
    val atVariant = gvcf.where(col("alternateAllele").isNotNull)
    assert(atVariant.count() > 0)
    assert(nonRef.count() > 0)
    // non-ref rows at clean positions are confidently hom-ref
    val states = nonRef.groupBy("genotypeState").count()
      .as[(Int, Long)].collect().toMap
    assert(states.getOrElse(0, 0L) > 0.9 * states.values.sum)
    // no overlap: a position is either a variant row or a non-ref row
    val dup = gvcf.groupBy("contigName", "start", "sampleId")
      .agg(countDistinct(when(col("alternateAllele").isNull, 1).otherwise(0)).as("kinds"))
      .where(col("kinds") > 1)
    assert(dup.count() === 0)
  }

  test("gVCF round trip through the VCF sink preserves block spans") {
    import spark.implicits._
    val gvcf = Seq(
      ("1", 100L, 180L, "A", null.asInstanceOf[String], "s1", 0, 45.0, 12),
      ("1", 180L, 181L, "C", "G", "s1", 1, 60.0, 20),
      ("1", 181L, 250L, "G", null.asInstanceOf[String], "s1", 0, 30.0, 10))
      .toDF("contigName", "start", "end", "referenceAllele", "alternateAllele",
        "sampleId", "genotypeState", "genotypeQuality", "readDepth")
    val dir = java.nio.file.Files.createTempDirectory("gvcfrt").toString + "/out"
    graft.sources.Vcf.write(gvcf, dir, singleFile = true)
    val back = graft.sources.Vcf.read(spark, dir)
    val blocks = back.where(col("alternateAllele").isNull)
      .select("start", "end").as[(Long, Long)].collect().toSet
    assert(blocks === Set((100L, 180L), (181L, 250L)), "END spans must survive")
    val call = back.where(col("alternateAllele").isNotNull).collect()
    assert(call.length === 1 && call.head.getAs[Long]("start") === 180L)
    assert(call.head.getAs[Int]("genotypeState") === 1)
  }

  test("square-off selects exact calls over the engine's own reference blocks") {
    import spark.implicits._
    // two samples: s1 has the variant called; s2 only covers the site
    // with a reference block (variant not discovered in s2's reads)
    def mk(id: Long, sample: String, seq: String, md: String) =
      Read(s"r$id", "1", 100L + (id % 2), 100L + (id % 2) + 10, seq, "IIIIIIIIII",
        "10M", md, 60, readMapped = true, readNegativeStrand = false,
        duplicateRead = false, primaryAlignment = true, sampleId = sample)
    // s1: reads with G at pos 104 (ref A); s2: clean reads
    val s1Reads = (0L to 5L).map(i => mk(i, "s1",
      if (i % 2 == 0) "AAAAGAAAAA" else "AAAGAAAAAA", if (i % 2 == 0) "4A5" else "3A6"))
    val s2Reads = (6L to 11L).map(i => mk(i, "s2", "AAAAAAAAAA", "10"))
    val all = (s1Reads ++ s2Reads).toDS()
    val v1 = DiscoverVariants.discover(all.filter(col("sampleId") === "s1"), 20, 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
    val g1 = BiallelicGenotyper.call(all.filter(col("sampleId") === "s1"), v1,
      ploidy = 2, binSize = 512.0, scoreAllSites = true)
    val g2 = BiallelicGenotyper.call(all.filter(col("sampleId") === "s2"),
      spark.emptyDataset[DiscoveredVariant], ploidy = 2, binSize = 512.0,
      scoreAllSites = true)
    val cohort = g1.unionByName(g2)
    // the same cohort through the VCF sink: the multi-sample file holds
    // a ./. cell (state -1) for s2 at s1's variant record, which must not
    // outrank s2's reference block
    val dir = java.nio.file.Files.createTempDirectory("gvcfsq").toString + "/out"
    Vcf.write(cohort, dir, singleFile = true)
    for ((input, label) <- Seq(cohort -> "engine gVCF", Vcf.read(spark, dir) -> "VCF gVCF")) {
      val squared = SquareOff.squareOff(input, binSize = 512.0)
      val rows = squared.where(col("start") === 104L)
        .select("sampleId", "genotypeState", "exactCall")
        .as[(String, Int, Boolean)].collect()
      val s1Row = rows.find(_._1 == "s1").get
      val s2Row = rows.find(_._1 == "s2").get
      assert(s1Row._3 === true, label)
      assert(s1Row._2 >= 1, s"$label: s1 carries the alt")
      assert(s2Row._3 === false, s"$label: s2 squares off from its reference block")
      assert(s2Row._2 === 0, label)
    }
  }
}
