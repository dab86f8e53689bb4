package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.TextAnalysis

/** Equivalence twins: earlier formulations of declared bodies, kept only
  * so the specs can pin the current body against them. */
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
}
