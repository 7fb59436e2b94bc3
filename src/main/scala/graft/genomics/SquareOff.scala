package graft.genomics

import graft.operators.IntervalJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** gVCF squaring (SURVEY.md P10/P11/J2/J4; reference
  * SquareOffReferenceModel.scala:87-245): take per-sample gVCF-style
  * genotype rows (variant records + reference-model blocks spanning
  * [start, end)), extract the union of real variants, and produce the
  * squared matrix — one row per (variant, sample) — selecting each
  * sample's exact call when present, else deriving a reference-model
  * call from the overlapping block.
  *
  * The per-site selection (reference's driver-side find-join J4) is
  * expressed declaratively: interval join then a window rank preferring
  * exact allele matches — no collect_list kernel, no driver involvement,
  * shuffles only on the join key and window partition.
  *
  * Expected genotype columns: contigName, start, end, referenceAllele,
  * alternateAllele (null for reference blocks), sampleId, genotypeState,
  * genotypeQuality, gl_0..gl_ploidy, readDepth.
  */
object SquareOff {

  /** Length of the common right-trim of (ref, alt), keeping >= 1 base in
    * each (K16: allele canonicalization).
    */
  def trimRight(ref: String, alt: String): Int = {
    var t = 0
    while (t < ref.length - 1 && t < alt.length - 1 &&
      ref.charAt(ref.length - 1 - t) == alt.charAt(alt.length - 1 - t)) t += 1
    t
  }

  private val trimUdf = udf((ref: String, alt: String) => trimRight(ref, alt))

  /** P10+P11: variant rows (alt present), alleles right-trimmed, end
    * recomputed, distinct on the 5-tuple (A4).
    */
  def extractVariants(gts: DataFrame): DataFrame = {
    val t = trimUdf(col("referenceAllele"), col("alternateAllele"))
    gts.where(col("alternateAllele").isNotNull && col("genotypeState") > 0)
      .withColumn("__t", t)
      .select(
        col("contigName"),
        col("start"),
        expr("substring(referenceAllele, 1, length(referenceAllele) - __t)").as("referenceAllele"),
        expr("substring(alternateAllele, 1, length(alternateAllele) - __t)").as("alternateAllele"))
      .withColumn("end", col("start") + greatest(length(col("referenceAllele")), lit(1)))
      .dropDuplicates("contigName", "start", "end", "referenceAllele", "alternateAllele")
  }

  /** Square off: every extracted variant × every sample with an
    * overlapping gVCF row. Exact allele matches win; otherwise the
    * overlapping block with the highest read depth represents the
    * sample's reference model at the site. No-call rows (state -1: the
    * `./.` cell a multi-sample VCF holds for a sample without a row at
    * the site) carry no evidence and are ignored, so they never outrank
    * the sample's reference block.
    */
  def squareOff(gts: DataFrame, binSize: Double = 1000.0): DataFrame = {
    val called = gts.where(col("genotypeState") >= 0)
    val variants = extractVariants(gts).select(
      col("contigName").as("v_contig"), col("start").as("v_start"),
      col("end").as("v_end"), col("referenceAllele").as("v_ref"),
      col("alternateAllele").as("v_alt"))

    val joined = IntervalJoin.overlap(
      variants, "v_start", "v_end",
      called, "start", "end",
      binSize, keys = Seq("v_contig" -> "contigName"))

    // compare CANONICALIZED alleles on both sides: v_ref/v_alt come out
    // of extractVariants right-trimmed, so the genotype row's alleles
    // must be trimmed identically or any call whose alleles needed
    // trimming silently degrades to a reference-model match
    val gtTrim = trimUdf(col("referenceAllele"), coalesce(col("alternateAllele"), lit("")))
    val gtRef = when(col("alternateAllele").isNotNull,
      expr("substring(referenceAllele, 1, length(referenceAllele) - __gt)"))
      .otherwise(col("referenceAllele"))
    val gtAlt = when(col("alternateAllele").isNotNull,
      expr("substring(alternateAllele, 1, length(alternateAllele) - __gt)"))
      .otherwise(lit(""))
    val exact = col("start") === col("v_start") &&
      col("__gtRef") === col("v_ref") &&
      col("__gtAlt") === col("v_alt")
    // full-key order: (ref, alt) tie-breaks make the rank deterministic
    // when a sample carries two different alts at the same position
    val w = Window
      .partitionBy("v_contig", "v_start", "v_end", "v_ref", "v_alt", "sampleId")
      .orderBy(col("__exact").desc, col("readDepth").desc, col("start"),
        col("referenceAllele"), col("alternateAllele"))
    joined
      .withColumn("__gt", gtTrim)
      .withColumn("__gtRef", gtRef)
      .withColumn("__gtAlt", gtAlt)
      .withColumn("__exact", exact)
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") === 1)
      .select(
        col("v_contig").as("contigName"), col("v_start").as("start"),
        col("v_end").as("end"), col("v_ref").as("referenceAllele"),
        col("v_alt").as("alternateAllele"), col("sampleId"),
        when(col("__exact"), col("genotypeState")).otherwise(lit(0)).as("genotypeState"),
        col("genotypeQuality"), col("readDepth"),
        col("gl_0"), col("gl_1"), col("gl_2"),
        col("__exact").as("exactCall"))
  }
}
