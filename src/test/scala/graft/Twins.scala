package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.TextAnalysis

/** Equivalence twins: independent formulations of declared bodies and
  * rules (earlier plans, oracle-shaped expression trees, plain-Scala
  * mirrors), kept only so the specs can pin the current code against them. */
object Twins {
  /** The r16 explode-per-plane SRP bucket formulation — equivalence twin
    * for `TextAnalysis.tfidfBuckets` (the r17 single-aggregate rewrite),
    * pinned row-for-row in TextAnalysisSpec so a bucket-math drift in the fused
    * form can never surface as silent LSH recall degradation (r17
    * advice). */
  def tfidfBucketsTwin(weighted: DataFrame,
      tables: Int, planesPerTable: Int): DataFrame = {
    val planes = tables * planesPerTable
    weighted
      .withColumn("h",
        expr("CAST(conv(substring(md5(term), 1, 8), 16, 10) AS BIGINT)"))
      .select(col("doc_id"), col("w"), col("h"),
        explode(expr(s"sequence(0, ${planes - 1})")).as("p"))
      .groupBy(col("doc_id"), col("p"))
      .agg(sum(when(
          expr("((h + p * 2654435761L) % 1000003L) * 1103515245L % 65536 < 32768"),
          col("w")).otherwise(-col("w"))).as("sp"))
      .groupBy(col("doc_id"), expr(s"p div $planesPerTable").as("tbl"))
      .agg(sum(when(col("sp") > 0,
          expr(s"shiftleft(1L, CAST(p % $planesPerTable AS INT))"))
        .otherwise(lit(0L))).as("bucket"))
  }

  /** The r16 exploded/HOF formulation of the Gopher bundle, kept as the
    * equivalence TWIN for the fused expression path (the repo's
    * fused≡twin discipline — VectorExpressionsSpec pins
    * `TextAnalysis.gopherRulesFused` bit-for-bit against this on the
    * fixture and on adversarial tie/empty-token corpora). */
  def textGopherRulesTwin(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_raw"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("n_chars_raw"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").as("chars_in_tokens"),
        expr("size(filter(toks, t -> t rlike '[a-z]'))").cast("long").as("n_alpha"),
        expr(s"size(array_intersect(array_distinct(toks), ${TextAnalysis.stopwordArray}))")
          .cast("long").as("stop_hits"))
    // both gram widths ride ONE corpus scan and ONE shuffle: the 2-gram
    // and 5-gram arrays concatenate under a width tag before the explode,
    // and the per-(doc, width, gram) count serves both rules
    val gramCounts = docs
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(concat(
        transform(graft.functions.VectorExpressions
          .wordShingles(col("text"), 2, distinct = false),
          g => struct(lit(2).as("width"), g.as("gram"))),
        transform(graft.functions.VectorExpressions
          .wordShingles(col("text"), 5, distinct = false),
          g => struct(lit(5).as("width"), g.as("gram"))))).as("wg"))
      .groupBy(col("doc_id"), col("wg.width").as("width"), col("wg.gram").as("gram"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top2 = gramCounts.filter(col("width") === 2)
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("gram").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), (col("cnt") * length(col("gram"))).as("top2_chars"))
    val dup5 = gramCounts.filter(col("width") === 5)
      .filter(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum((col("cnt") - 1) * length(col("gram"))).as("dup5_chars"))
    base
      .join(top2, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (coalesce(col("top2_chars"), lit(0L)).cast("double") /
          col("n_chars_raw").cast("double")).as("top2_frac"),
        (coalesce(col("dup5_chars"), lit(0L)).cast("double") /
          col("n_chars_raw").cast("double")).as("dup5_frac"),
        (col("n_tokens") >= 50 && col("n_tokens") <= 100000).as("pass_wordcount"),
        (col("chars_in_tokens") >= col("n_tokens") * 3 &&
          col("chars_in_tokens") <= col("n_tokens") * 10).as("pass_wordlen"),
        (col("n_alpha") * 5 >= col("n_tokens") * 4).as("pass_alpha"),
        (col("stop_hits") >= 2).as("pass_stopwords"),
        (coalesce(col("top2_chars"), lit(0L)) * 5 <= col("n_chars_raw"))
          .as("pass_top2gram"),
        (coalesce(col("dup5_chars"), lit(0L)) * 10 <= col("n_chars_raw") * 3)
          .as("pass_dup5gram"))
      .withColumn("keep",
        col("pass_wordcount") && col("pass_wordlen") && col("pass_alpha") &&
          col("pass_stopwords") && col("pass_top2gram") && col("pass_dup5gram"))
      .orderBy(col("doc_id"))
  }

  /** Raw-row RANGE-frame formulation — the shape for corpora whose
    * (flag, v) pairs are near-unique (the pre-aggregate is pure overhead
    * there, r17 measurement). Equivalence twin for
    * `RelationalExt.weightedMedianHistogram`; not on the declared
    * surface because its window partitions by the ~3-value flag over
    * UNBOUNDED input — the 100 TB skew cliff the r17 verdict flagged. */
  def weightedMedianRaw(rows: DataFrame): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    rows
      .withColumn("cw", sum(col("wt")).over(byFlag.orderBy(col("v"))))
      .withColumn("total_weight", sum(col("wt")).over(byFlag))
      .filter(col("cw") * 2 >= col("total_weight"))
      .groupBy(col("l_returnflag"), col("total_weight"))
      .agg(min(col("v")).as("weighted_median_cents"))
      .select(col("l_returnflag"), col("total_weight"),
        col("weighted_median_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Scala mirror of the calibrator's SRP planes rule
    * (`Calibrate.planesCol`): ceil(log2(ceil(n / 16))) clamped to
    * [MinPlanes, MaxPlanes], MinPlanes for an empty corpus. */
  def srpPlanesFor(nDocs: Long): Int = {
    import graft.ops.Calibrate.{MaxPlanes, MinPlanes, TargetBucketDocs}
    if (nDocs <= 0) return MinPlanes
    val buckets = (nDocs + TargetBucketDocs - 1) / TargetBucketDocs
    val ceilLog2 =
      if (buckets <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(MaxPlanes, math.max(MinPlanes, ceilLog2))
  }

  /** Scala mirror of the calibrator's simhash width ladder
    * (`simhash_bits` of the calibrated row). */
  def simhashWidthFor(planes: Int): Int =
    if (planes <= 4) 64 else if (planes <= 9) 128
    else if (planes <= 19) 256 else 512

  /** The explode + vote-aggregate SimHash formulation the DuckDB oracles
    * mirror 1:1 — equivalence twin of the fused `SimhashVotes` kernel
    * behind `Dedup.simhash{,128,256,512}Signatures`, pinned bit-for-bit
    * in DedupSpec (text and media features). Input (doc_id, m), m the hex digest
    * of each feature occurrence; vote bit k reads bit k % 32 of the
    * 32-bit hex word `words(k / 32)`. Output (doc_id, sig), one long per
    * 64 vote bits, lowest bits first. */
  def simhashVoteAggregate(feats: DataFrame, words: Seq[Int]): DataFrame = {
    val nBits = 32 * words.size
    val tok = feats.select(col("doc_id") +: words.distinct.map(wd =>
      conv(substring(col("m"), wd * 8 + 1, 8), 16, 10).cast("long").as(s"h$wd")): _*)
    val bitSums = (0 until nBits).map { k =>
      sum(when(shiftright(col(s"h${words(k / 32)}"), k % 32).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s_$k")
    }
    val sigWords = (0 until nBits / 64).map { wd =>
      (0 until 64).map { b =>
        when(col(s"s_${64 * wd + b}") > 0, shiftleft(lit(1L), b)).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
    }
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), array(sigWords: _*).as("sig"))
  }

  /** 64-bit twin of `Dedup.simhashFromFeatureArray` over md5 hex:
    * (doc_id, simhash), bits 0..31 from the second md5 word. */
  def simhashFromFeatures(feats: DataFrame): DataFrame =
    simhashVoteAggregate(feats, Seq(1, 0))
      .select(col("doc_id"), element_at(col("sig"), 1).as("simhash"))

  /** 128-bit twin of `Dedup.simhash128FromFeatureArray` over md5 hex:
    * (doc_id, sig_hi, sig_lo). */
  def simhash128FromFeatures(feats: DataFrame): DataFrame =
    simhashVoteAggregate(feats, 0 until 4)
      .select(col("doc_id"), element_at(col("sig"), 2).as("sig_hi"),
        element_at(col("sig"), 1).as("sig_lo"))

  /** 256-bit twin of `Dedup.simhash256FromFeatureArray` over sha256 hex. */
  def simhash256FromFeatures(feats: DataFrame): DataFrame =
    simhashVoteAggregate(feats, 0 until 8)

  /** 512-bit twin of `Dedup.simhash512FromFeatureArray` over the
    * 128-char doubled-sha256 hex. */
  def simhash512FromFeatures(feats: DataFrame): DataFrame =
    simhashVoteAggregate(feats, 0 until 16)

  /** Inverse of `Layout.zValue` (LayoutSpec): extract the even (x) or odd (y) bit lanes. */
  def zExtract(z: Column, odd: Boolean, bits: Int = 8): Column =
    (0 until bits).map { k =>
      shiftleft(shiftright(z, 2 * k + (if (odd) 1 else 0)).bitwiseAND(1), k)
    }.reduce(_.bitwiseOR(_))

  /** The declarative per-offset twin of `Multimodal.cdcChunksOf`: the same
    * polynomial window-hash boundary rule spelled as array expressions
    * (a materialized byte array + an 8-term sum per offset — the shape
    * the DuckDB oracle replays). MultimodalSpec pins bit-for-bit
    * equality with the compiled rolling-hash expression. */
  def cdcChunksDeclarative(media: DataFrame): DataFrame = {
    val win = 8
    // 257^(7-j) mod 1000003 for j = 0..7
    val cs = Seq(709659L, 107820L, 529604L, 457315L, 974545L, 66049L, 257L, 1L)
    val sumExpr = cs.zipWithIndex
      .map { case (c, j) => s"element_at(B, i - ${7 - j}) * ${c}L" }
      .mkString(" + ")
    media
      .select(col("doc_id"), lower(hex(col("media"))).as("hx"))
      .withColumn("nb", (length(col("hx")) / 2).cast("int"))
      .filter(col("nb") >= win)
      .withColumn("B", expr(
        "transform(sequence(0, nb - 1), t -> CAST(conv(substring(hx, t * 2 + 1, 2), 16, 10) AS BIGINT))"))
      .withColumn("bounds", expr(
        s"filter(sequence($win, nb), i -> (($sumExpr) % 1000003L) % 16 = 0)"))
      .withColumn("starts", expr("concat(array(0), bounds)"))
      .withColumn("ends", expr("concat(bounds, array(nb))"))
      .select(col("doc_id"), explode(expr(
        """filter(zip_with(starts, ends,
          |              (st, en) -> IF(en > st,
          |                             md5(substring(hx, st * 2 + 1, (en - st) * 2)),
          |                             NULL)),
          |       x -> x IS NOT NULL)""".stripMargin)).as("chunk_md5"))
  }
}
