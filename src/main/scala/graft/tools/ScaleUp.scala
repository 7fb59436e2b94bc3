package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-step generator (dev tool, not part of the driver contract):
  * writes an N×-scaled copy of the tables the heavy bench family reads
  * (`lineitem`, `documents`) so wall-time scaling vs a 10× data step can
  * be measured before a real cluster finds a super-linear surprise.
  *
  * Scaling preserves the semantics each consumer depends on:
  *
  *  - `lineitem`: each copy offsets `l_orderkey` by copy×stride (stride a
  *    multiple of 3, so the orderkey%3 alt-base distribution is
  *    untouched) and keeps every other column verbatim. Read names stay
  *    unique (orderkey is part of the name); contigs/sites are bounded by
  *    the generator's closed form (partkey%1000), so a 10× step scales
  *    COVERAGE DEPTH 10× at fixed site count — the WGS-like regime the
  *    genotyper family must survive.
  *  - `documents`: each copy offsets `doc_id` by copy×stride and
  *    letter-permutes the text per copy (`translate` through a seeded
  *    per-copy permutation of the full lowercase alphabet — see
  *    [[letterPerm]] for why the cyclic vowel rotation it replaced
  *    collapsed under chained invocations). Length, token structure,
  *    and the WITHIN-copy duplicate/near-dup structure are preserved
  *    exactly; across copies most shingles differ, so the near-dup pair
  *    count scales ~N× (as a real 10× corpus would), not N²× (as
  *    verbatim duplication would — that would benchmark the generator's
  *    pathology, not the engine).
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"`
  */
object ScaleUp {

  private[tools] val letters = "abcdefghijklmnopqrstuvwxyz"

  /** Deterministic per-(copy, invocation) permutation of the lowercase
    * alphabet (copy 0 = identity, so one copy always carries the input
    * text verbatim). Drawn by seeded Fisher–Yates from S₂₆ (~4·10²⁶
    * elements), so any two copies' permutations — and, crucially, any
    * two COMPOSITIONS across chained ScaleUp invocations
    * (sf0.1→sf1→sf10) — differ w.h.p.
    *
    * The original design rotated only the 5 vowels: a cyclic group of
    * order 5, so copies i and i+5 produced IDENTICAL text, and the
    * chained 10×10 step collapsed 100 copies onto 5 net rotations.
    * Measured at sf10 (BENCH_r13_sf10): 500k docs but the SAME 24,960
    * distinct texts as sf1, 4.77M identical cross-copy pairs vs sf1's
    * 25k — a 189× quadratic step that benchmarked the generator's
    * pathology, not the engine (d4 223×, d19 141× wall, while d20,
    * which collapses identical sketches first, stepped 3.45×).
    *
    * `salt` distinguishes INVOCATIONS (derived from the input path in
    * [[main]]): without it, net(copy i step 1, copy 0 step 2) equals
    * net(copy 0 step 1, copy i step 2) — P_i∘id = id∘P_i — so a chained
    * 10×10 step gave every base doc 9 identical twins (measured on the
    * first regenerated sf10 leg: 44,856 identical pairs vs sf1's 80, a
    * 9.1% dup ratio where a real 10× corpus keeps sf1's 0.16%). With
    * per-invocation salts the two steps draw unrelated non-identity
    * families and the identical-pair count scales exactly N×.
    */
  private[tools] def letterPerm(copy: Long, salt: Long): String =
    if (copy == 0L) letters
    else {
      val arr = letters.toCharArray
      val rnd = new java.util.Random(
        0x5ca1ab1eL * (copy + 1L) ^ 0x9e3779b97f4a7c15L ^ (salt * 0xc2b2ae3d27d4eb4fL))
      var i = arr.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  /** Per-copy permutation of embedding component order (copy 0 =
    * identity), same rationale as [[letterPerm]]: the original cyclic
    * SHIFT by the copy index composes additively (shift i then j =
    * shift i+j mod dim), so a chained 10×10 step reused net shifts and
    * produced identical cross-copy vectors — the embedding-side twin of
    * the vowel-rotation collapse (d13_semantic_prune stepped 29.9× at
    * sf10). A uniform permutation still preserves every within-copy dot
    * product/distance exactly; random S_dim draws make chained
    * compositions collide with probability ~0. `salt` distinguishes
    * invocations (see [[letterPerm]] — same identity-copy symmetry).
    */
  private[tools] def componentPerm(copy: Long, dim: Int, salt: Long): Array[Int] = {
    val idx = Array.tabulate(dim)(identity)
    if (copy == 0L) idx
    else {
      val rnd = new java.util.Random(
        0xe3bed5caL * (copy + 1L) ^ 0x9e3779b97f4a7c15L ^ (salt * 0xc2b2ae3d27d4eb4fL))
      var i = dim - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i -= 1
      }
      idx
    }
  }

  def scaleLineitem(df: DataFrame, copies: Int): DataFrame =
    scaleLineitem(df, copies, keyStride(df, "l_orderkey"))

  def scaleLineitem(df: DataFrame, copies: Int, stride: Long): DataFrame =
    explodeCopies(df, copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("__copy") * stride)
      .drop("__copy")

  /** Next multiple of 3 past the key's max: preserves the key%3 mix
    * (the alt-base / batch-vs-history split several queries key on).
    */
  def keyStride(df: DataFrame, key: String): Long = {
    val m = df.agg(max(key)).head.getLong(0) + 1
    m + (3 - m % 3) % 3
  }

  /** orders: o_orderkey offsets by the SAME stride as lineitem (pass the
    * max of both tables' strides to keep the l_orderkey = o_orderkey
    * lineage aligned across copies); o_custkey stays verbatim — the
    * dimension tables ship unscaled, so a 10× step means 10× orders per
    * customer, the realistic fact-grows-dims-don't regime.
    */
  def scaleOrders(df: DataFrame, copies: Int, stride: Long): DataFrame =
    explodeCopies(df, copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("__copy") * stride)
      .drop("__copy")

  /** events: event_id offsets per copy; user_id stays VERBATIM (it joins
    * customer/orders keys — ev7/j7 — and the dims ship unscaled), so a
    * 10× step gives every user 10× events: denser sessions and fatter
    * per-user window/state partitions, exactly the hot-key regime the
    * streaming family must survive. ts nudges +1 ms per copy so the
    * copies don't collapse into 10-way exact-timestamp ties (window
    * semantics unchanged at session/window granularity: the generator's
    * gaps are seconds-scale).
    */
  def scaleEvents(df: DataFrame, copies: Int): DataFrame = {
    // the events table has shipped in several physical ts encodings
    // (TIMESTAMP NANOS/MICROS, tz/ntz, INT64-nanos) — normalize to the
    // engine-wide epoch-nanos long before doing long arithmetic on it
    val norm = graft.streaming.StreamingOps.tsToNanos(df)
    val stride = keyStride(norm, "event_id")
    explodeCopies(norm, copies)
      .withColumn("event_id", col("event_id") + col("__copy") * stride)
      .withColumn("ts", col("ts") + col("__copy") * lit(1000000L))
      .drop("__copy")
  }

  def scaleDocuments(df: DataFrame, copies: Int, salt: Long = 0L): DataFrame = {
    val stride = df.agg(max("doc_id")).head.getLong(0) + 1
    val permuted = (0 until copies).foldLeft(lit(null).cast("string")) {
      case (acc, i) =>
        val t = if (i == 0) col("text")
                else translate(col("text"), letters, letterPerm(i, salt))
        when(col("__copy") === i, t).otherwise(acc)
    }
    explodeCopies(df, copies)
      .withColumn("doc_id", col("doc_id") + col("__copy") * stride)
      .withColumn("text", permuted)
      .drop("__copy")
  }

  /** embeddings: copy 0 is verbatim (fixed query/seed vectors — vec 0,
    * seeds 1..16 — stay bit-identical), later copies PERMUTE the
    * component order through a seeded per-copy draw from S_dim
    * ([[componentPerm]] — see it for why the cyclic shift it replaced
    * collapsed under chained invocations). A uniform permutation
    * preserves every within-copy dot product/distance exactly (the
    * dup/neighbor structure the ANN family measures), while cross-copy
    * similarity decorrelates — neighbor counts scale ~N×, not N²×,
    * mirroring the documents letter-permutation rationale.
    */
  def scaleEmbeddings(df: DataFrame, copies: Int, salt: Long = 0L): DataFrame = {
    val stride = df.agg(max("vec_id")).head.getLong(0) + 1
    val dim = df.select(size(col("embedding"))).head.getInt(0)
    val rotated = (0 until copies).foldLeft(lit(null).cast("array<float>")) {
      case (acc, i) =>
        val e =
          if (i == 0) col("embedding")
          else array(componentPerm(i, dim, salt).map(p =>
            element_at(col("embedding"), p + 1)): _*)
        when(col("__copy") === i, e).otherwise(acc)
    }
    explodeCopies(df, copies)
      .withColumn("vec_id", col("vec_id") + col("__copy") * stride)
      .withColumn("embedding", rotated)
      .drop("__copy")
  }

  /** One row per (row, copy) — a generate, not a union of N scans, so
    * the input is read once however large it is.
    */
  private def explodeCopies(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("__copy", explode(sequence(lit(0L), lit(copies - 1L))))

  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("scaleup").resolve("out")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val target = java.nio.file.Paths.get(dest)
    // a stale directory-layout table at the destination blocks the move
    val old = target.toFile
    if (old.isDirectory) { old.listFiles().foreach(_.delete()); old.delete() }
    else java.nio.file.Files.deleteIfExists(target)
    java.nio.file.Files.move(part.toPath, target)
  }

  def main(args: Array[String]): Unit = {
    val in = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.util.Sessions("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")
    val li = spark.read.parquet(s"$in/lineitem.parquet")
    val ords = spark.read.parquet(s"$in/orders.parquet")
    // one stride for both fact tables keeps the orderkey lineage aligned
    val stride = math.max(keyStride(li, "l_orderkey"), keyStride(ords, "o_orderkey"))
    scaleLineitem(li, copies, stride)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    scaleOrders(ords, copies, stride)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    writeSingleFile(scaleEvents(
      spark.read.parquet(s"$in/events.parquet"), copies), s"$out/events.parquet")
    // dimension tables ship verbatim (fact-grows-dims-don't): plain copy
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$in/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // documents/embeddings ship as SINGLE FILES like the driver's
    // testdata (the streaming queries stage `<dir>/<table>.parquet` as a
    // file-source path — a nested directory wouldn't be listed).
    // The permutation salt is the INPUT path: deterministic (re-running
    // the same command reproduces the leg bit-identically) but distinct
    // across the steps of a chain (sf0.1→sf1 vs sf1→sf10), so chained
    // compositions never hit the identity-copy symmetry (see letterPerm).
    val salt = scala.util.hashing.MurmurHash3.stringHash(in).toLong
    writeSingleFile(scaleDocuments(
      spark.read.parquet(s"$in/documents.parquet"), copies, salt), s"$out/documents.parquet")
    writeSingleFile(scaleEmbeddings(
      spark.read.parquet(s"$in/embeddings.parquet"), copies, salt), s"$out/embeddings.parquet")
    println(s"[scaleup] wrote $out at ${copies}x of $in")
    spark.stop()
  }
}
