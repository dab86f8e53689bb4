package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.Tables._

/** Text-analysis operators over `documents`: quality scoring, token
  * counting (whitespace + BPE-ish subword estimate), language-ID
  * heuristic, and content fingerprinting. All per-row projections /
  * single-shuffle aggregations — embarrassingly parallel at 100 TB (no
  * joins, no skew; filters and column pruning reach the parquet scan).
  *
  * Everything is built-in codegen'd expressions (no UDFs): higher-order
  * functions (`transform`/`aggregate`/`filter`) cover the per-token math.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private[graft] val stopwordArray = s"array(${stopwords.map(w => s"'$w'").mkString(",")})"

  /** lang → keep rate: the single source for BOTH samplers (stratified
    * Bernoulli + hash-LCG) and their verdict targets. The oracle SQLs
    * mirror these values literally — change them together. */
  private val SampleRates =
    Map("en" -> 0.5, "fr" -> 0.5, "es" -> 0.2, "de" -> 0.2, "zh" -> 0.2)
  /** Rate for languages outside `SampleRates` (hash sampler only — the
    * stratified sampler filters to the map's languages first). */
  private val DefaultSampleRate = 0.2

  /** Per-document quality features + linear quality score. Deterministic
    * integer/exact-double math only (oracle-parity). */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
        col("doc_id"), col("lang"), col("n_chars"),
        split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").as("chars_in_tokens"),
        expr(s"size(filter(toks, t -> array_contains($stopwordArray, t)))")
          .cast("long").as("n_stopwords"))
      .withColumn("avg_token_len",
        col("chars_in_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality_score",
        col("distinct_ratio") * 50.0 + col("stopword_ratio") * 30.0 +
          when(col("n_tokens") >= 50 && col("n_tokens") <= 2000, 20.0).otherwise(0.0))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (ceil(len/4) pieces per word — the standard ~4-chars-per-token
    * heuristic), and a regex token count (words vs punctuation). */
  def textTokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        expr("aggregate(split(text, ' '), 0L, (acc, t) -> acc + (length(t) + 3) div 4)")
          .as("bpe_est_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).cast("long")
          .as("regex_tokens"))
      .orderBy(col("doc_id"))

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "la", "los", "que"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "des", "une"),
    "zh" -> Seq("的", "是", "了", "和"))

  /** Language-ID n-gram/marker heuristic: count marker-token occurrences
    * per language, predict the argmax (ties → first language in fixed
    * order, 'und' when all scores are 0). Aggregated into a per-(actual,
    * predicted) confusion table. */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val scored = langMarkers.foldLeft(
      documents(s, dir).select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("toks"))) { case (d, (l, ms)) =>
      val arr = s"array(${ms.map(m => s"'$m'").mkString(",")})"
      d.withColumn(s"score_$l",
        expr(s"size(filter(toks, t -> array_contains($arr, t)))").cast("long"))
    }
    val best = langMarkers.map { case (l, _) => col(s"score_$l") }
      .reduce((a, b) => greatest(a, b))
    // first-match-wins in declaration order (matches the oracle's CASE)
    val predicted = langMarkers.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case ((l, _), acc) => when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted", predicted)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive semantic fingerprint both engines compute
    * identically. The rolling-hash variant (unit-test only) lives in
    * `rollingFingerprint`. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
          .as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Polynomial rolling hash over tokens, mod 1e9+7 (overflow-free in
    * either ANSI mode). Spark-side only — DuckDB lacks a seeded reduce —
    * so no declared query serves it; DedupSpec checks it is deterministic. */
  def rollingFingerprint(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      expr("""aggregate(split(text, ' '), 0L,
             |  (acc, t) -> (acc * 31 + length(t) * 96 + ascii(substring(t, 1, 1)))
             |              % 1000000007L)""".stripMargin).as("rolling_fp"))

  /** Global token frequency top-20 (explode → count → top-k): the
    * canonical flatten-aggregate pipeline; one shuffle on the token. */
  def textWordCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  /** Stratified sample by language (seeded Bernoulli via sampleBy —
    * deterministic within Spark, but the RNG is engine-specific, so the
    * sampled row SET can never hash-match another engine). The query
    * therefore emits a per-stratum tolerance verdict: observed sample
    * fraction within 4 binomial standard deviations of the target rate
    * (σ = sqrt(p(1-p)/n)); the oracle computes the same group sizes and
    * asserts every verdict is true — a real statistical pass/fail
    * signal instead of a rows-only count. */
  def textSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val rates = SampleRates
    // verdict target derived from the SAME map the sampler consumes (a
    // hand-maintained when() copy silently de-syncs when rates change)
    val target = element_at(typedLit(rates), col("lang"))
    val d = documents(s, dir).filter(col("lang").isin(rates.keys.toSeq.map(lit): _*))
    val sampled = d.stat.sampleBy("lang", rates, 42L)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    d.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        (abs(coalesce(col("n_sampled"), lit(0L)) / col("n_total") - target)
          <= lit(4.0) * sqrt(target * (lit(1.0) - target) / col("n_total")))
          .as("frac_ok"))
      .orderBy(col("lang"))
  }

  /** Hash-based stratified sampling — the engine-portable variant: the
    * per-row coin is an LCG step on doc_id (pure integer arithmetic any
    * engine reproduces exactly, unlike Spark's Bernoulli RNG above), with
    * per-language keep percentages. Deterministic, join-free, map-only —
    * and at 100 TB a re-run selects the SAME sample, which is what a
    * training-data pipeline actually wants from sampling. Overflow-safe
    * under ANSI for doc_id < ~8.3e9. */
  def textSampleHash(s: SparkSession, dir: String): DataFrame = {
    // keep-percentages derived from SampleRates (single source; langs
    // outside the map fall back to the default rate as before)
    val pct = coalesce(
      element_at(typedLit(SampleRates.map { case (k, v) => k -> (v * 100).toLong }),
        col("lang")),
      lit((DefaultSampleRate * 100).toLong))
    documents(s, dir)
      .filter(pmod((col("doc_id") * 1103515245L + 12345L) % 2147483647L,
        lit(100L)) < pct)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF-style term salience: top-3 most characteristic terms per
    * document. The score is the EXACT rational tf·N/df scaled to an
    * integer — `(tf · N · 1e6) div df` — a monotone transform of
    * tf·(N/df) that avoids cross-engine `ln` ulp differences entirely
    * (same ranking as tf·idf for fixed tf when df varies; integer math
    * is hash-identical in any engine). Two shuffles: term counts per
    * (doc, term) and document frequency per term, then a broadcast-sized
    * df join and a per-doc top-k window. */
  def textTfidfTopterms(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // N enters the plan as a broadcast scalar (one plan, no driver
    // round-trip — the q22 scalar-subquery discipline)
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df as count(1) OVER the tf relation — identical to
    // countDistinct(doc_id) since tf has exactly one row per
    // (doc_id, term). The countDistinct form planned its own
    // (term, doc_id) dedup aggregate from a SECOND scan+tokenize of the
    // whole corpus (r18, found while pinning the r17 verdict's #8); see
    // tfidfWeighted for why the tf persist (not exchange reuse) is what
    // makes the sharing real.
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("term").asc)
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(nDf))
      .withColumn("score_q", expr("tf * n_docs * 1000000L div df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tf"), col("df"), col("score_q"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** TF-IDF weighted cosine near-dup pairs — the TERM-WEIGHTED
    * complement to the shingle-Jaccard dedup family: similarity is the
    * cosine of the documents' salient-term tf·idf vectors, so two
    * documents match on shared RARE vocabulary (weighted by how rare)
    * rather than shared word order. The inverted index is df-capped by
    * construction: only terms with df ≤ N/10 enter it, which removes the
    * stopword Σdf² blowup that makes naive tf-idf pair joins explode —
    * the same hot-key discipline as the Jaccard index's df-cap, applied
    * as a semantic choice (stopwords carry no tf-idf weight worth
    * keeping). Join volume is Σ_{rare terms} df², bounded by the cap.
    *
    * Exactness: weights are integers — w = tf · ((N·1000) div df), the
    * same monotone integer-idf transform as `textTfidfTopterms` (scale
    * 1000 keeps dots/norms < 2^63 through sf0.1 with headroom; raise
    * denominator granularity, not the scale, for bigger corpora) — so
    * pair dots and norms are exact Long sums and cosine is one
    * deterministic IEEE division both engines agree on.
    *
    * Fixture note (measured): the synthetic corpus's planted near-dups
    * share COMMON vocabulary, which the df-cap deliberately excludes, so
    * this query's pairs are rare-term matches largely DISJOINT from the
    * Jaccard family's (1/25 overlap at sf0.01) — the two measures
    * genuinely rank different things, which is why production dedup
    * stacks run both. */
  def textTfidfCosine(s: SparkSession, dir: String): DataFrame =
    tfidfCosineFrom(tfidfWeighted(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Exact posting-join all-pairs path over a prepared weighted index —
    * parameterized so [[textTfidfLshRecall]] can share ONE persisted
    * weighted relation across both of its legs. */
  private[graft] def tfidfCosineFrom(weighted: DataFrame): DataFrame = {
    val dots = weighted.as("a")
      .join(weighted.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    tfidfCosineOf(dots, weighted)
  }

  /** Exact-verify stage shared by every tf-idf CANDIDATE generator
    * (SRP buckets, MinHash bands): join the candidate pairs back to the
    * weighted index on both sides, take the exact integer dot, close
    * with the same cosine/threshold formula — one definition, so every
    * generator's "output ⊆ exact by construction" guarantee rests on
    * literally the same code. */
  private def verifiedPairs(cand: DataFrame, weighted: DataFrame): DataFrame = {
    val dots = cand
      .join(weighted.select(col("doc_id").as("a_id"), col("term"),
        col("w").as("wa")), Seq("a_id"))
      .join(weighted.select(col("doc_id").as("b_id"), col("term"),
        col("w").as("wb")), Seq("b_id", "term"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    tfidfCosineOf(dots, weighted)
  }

  /** Shared salient tf-idf weight relation: (doc_id, term, w) with
    * integer w = tf · (N·1000 div df), keeping only terms with
    * df·10 ≤ N. NOTE the salience cap is CORPUS-RELATIVE — sound when
    * the corpus grows with a stable vocabulary profile, but under
    * VOCABULARY DRIFT (merging disjoint-vocabulary subcorpora: new
    * languages, namespaced fields) each subcorpus's locally-common
    * terms look globally rare, pass the cap, and the exact pair join's
    * Σdf² volume explodes — the r10 10× scaling probe measured exactly
    * this (BASELINE.md: 71 756× join volume on a split-vocab corpus).
    * [[textTfidfCosineLsh]] is the drift-robust scale path. */
  private[graft] def tfidfWeighted(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    // tf is referenced by both the posting leg and the df aggregate.
    // r17 reverted a persist here as a WASH, believing exchange reuse
    // deduplicated the subtree at runtime; r18's PlanSpec pin attempt
    // DISPROVED that: the df leg uses no tf column, so Catalyst prunes
    // the count out of it (and rewrites count(tf) → count(1) via null
    // propagation), the two tf subtrees differ, ReusedExchange never
    // fires, and the corpus was scanned + tokenized TWICE. The persist
    // is what makes the sharing real: one tokenize pass at any scale,
    // both legs served from the cached narrow (doc, term, tf) rows.
    // Measured a wash at sf0.1 (cache write ≈ second tokenize there);
    // at 100 TB the second corpus pass is the dominant avoidable cost —
    // the same declare-the-scale-safe-shape call as agg_weighted_median.
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(nDf))
      .filter(col("df") * 10 <= col("n_docs")) // salient terms only
      .select(col("doc_id"), col("term"),
        (col("tf") * expr("n_docs * 1000L div df")).as("w"))
  }

  /** Attach norms and emit the thresholded cosine rows — shared by the
    * exact pair join and the LSH candidate verify (identical formula,
    * so the LSH result is provably a SUBSET of the exact result). */
  private def tfidfCosineOf(dots: DataFrame, weighted: DataFrame): DataFrame = {
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("n2"))
    dots
      .join(norms.select(col("doc_id").as("a_id"), col("n2").as("na")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("n2").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))).as("cosine"))
      .filter(col("cosine") >= 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  private val TfidfTables = 8
  private val TfidfPlanes = 4

  /** SRP-LSH buckets over the sparse tf-idf vectors: one row per
    * (doc, hash table). Plane weights are ±1 per (plane, term), derived
    * from an md5-based term hash through an LCG — pure integer math both
    * engines replay exactly; sign(Σ w·s) = sign(Σ ŵ·s), so raw integer
    * weights give the exact same buckets as normalized ones.
    *
    * Shape (r17, guide §2.3/§2.4): ONE hash aggregate keyed on doc_id
    * with `planes` long sum buffers — each plane's signed projection is
    * a conditional column of the same posting row, so the partial
    * aggregation runs map-side over the posting relation and a single
    * narrow exchange carries ~one row per doc. The r16 form exploded
    * every posting row `planes`× (sequence + explode) and paid TWO
    * aggregate exchanges — (doc, p) then (doc, tbl) — over the
    * 32×-multiplied relation; per-plane arithmetic is unchanged
    * (p is a compile-time literal per column, the LCG and the
    * sign-to-bit packing are the same integer ops), so the emitted
    * (doc_id, tbl, bucket) rows are identical and every consumer's
    * oracle is untouched. The bucket id assembles map-side from the
    * aggregated sign sums; tables explode AFTER aggregation (8 rows per
    * doc, not 32 per posting). */
  private[graft] def tfidfBuckets(weighted: DataFrame,
      tables: Int, planesPerTable: Int): DataFrame = {
    val planes = tables * planesPerTable
    val planeSums = (0 until planes).map { p =>
      sum(when(
        expr(s"((h + $p * 2654435761L) % 1000003L) * 1103515245L % 65536 < 32768"),
        col("w")).otherwise(-col("w"))).as(s"sp$p")
    }
    val tblStructs = (0 until tables).map { t =>
      val bucket = (0 until planesPerTable).map { b =>
        when(col(s"sp${t * planesPerTable + b}") > 0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
      struct(lit(t.toLong).as("tbl"), bucket.as("bucket"))
    }
    weighted
      .withColumn("h", graft.functions.VectorExpressions
        .md5HeadLong(col("term"), 8))
      .groupBy(col("doc_id"))
      .agg(planeSums.head, planeSums.tail: _*)
      .select(col("doc_id"), explode(array(tblStructs: _*)).as("tb"))
      .select(col("doc_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** All-pairs tf-idf cosine via SRP-LSH candidates + exact verify —
    * the candidate generator for DENSE-salience corpora, where per-doc
    * salient sets are large and the exact posting join's Σ df² term
    * dominates. Candidate volume is Σ_buckets |bucket|² over independent
    * sign-random-projection tables — governed by how the corpus spreads
    * in weighted-angle space, NOT by posting-list lengths. Measured at
    * the r10 10× probes (BASELINE.md): 2.35× wall for 10× data on the
    * stationary-df corpus (16×12 config per the corpus-size rule below);
    * on the SALIENCE-COLLAPSE corpus it degrades to 110× — but there the
    * TRUE cosine ≥ 0.5 pair set is itself Θ(n²) (the relative df-cap
    * admits the whole vocabulary once absolute dfs stop tracking corpus
    * growth), so no correct engine is sub-quadratic; the production
    * guard is monitoring salient posting volume, not a smarter
    * candidate generator. Verification recomputes the EXACT cosine
    * (same `tfidfCosineOf`), so output ⊆ exact output; per-pair recall
    * at cosine ≥ 0.5 is 1 − (1 − (2/3)⁴)⁸ ≈ 0.83 (arccos identity),
    * measured by [[textTfidfLshRecall]]. This candidates-then-verify
    * split is the same production shape as `dedup_minhash_lsh`. */
  def textTfidfCosineLsh(s: SparkSession, dir: String): DataFrame =
    textTfidfCosineLshAt(s, dir, TfidfTables, TfidfPlanes)

  /** Parameterized LSH path — table count and bits-per-table are THE
    * corpus-size knobs (bits ≈ log2(n_docs) − log2(target bucket size),
    * so bucket occupancy and the Σ|bucket|² candidate volume stay flat
    * as the corpus grows; the declared 8×4 is calibrated to the fixture,
    * the 10× probe runs wider buckets per this rule — BASELINE.md). */
  private[graft] def textTfidfCosineLshAt(s: SparkSession, dir: String,
      tables: Int, planesPerTable: Int): DataFrame =
    tfidfCosineLshFrom(tfidfWeighted(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      tables, planesPerTable)

  private[graft] def tfidfCosineLshFrom(weighted: DataFrame,
      tables: Int, planesPerTable: Int): DataFrame = {
    val buckets = tfidfBuckets(weighted, tables, planesPerTable)
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifiedPairs(cand, weighted)
  }

  /** All-pairs tf-idf cosine via TERM-SET MinHash banding + exact
    * verify — the third candidate generator of the family, reusing the
    * dedup stack's machinery (one codegen'd 32-perm minhash pass per
    * doc's SALIENT-term set, 8×4 banding, bucket join) so a pipeline
    * that already banded its shingles pays nothing new. Near-dup pairs
    * at cosine ≥ 0.5 share most salient terms, so set-Jaccard banding
    * carries the weighted signal; empty salient sets never reach the
    * bands (no rows to group), so cap-surviving stopword-free docs
    * can't degenerately collide. Measured at the r10 10× probes
    * (BASELINE.md): 1.86× wall for 10× data on the stationary-df
    * corpus, between the exact posting join (1.34× — optimal when
    * salience is sparse, as in this fixture) and SRP 16×12 (2.35×);
    * on the salience-collapse corpus the banded join OOMs materializing
    * the Θ(n²) candidates that ARE the true answer there (see
    * [[textTfidfCosineLsh]] — a workload degeneracy, not a generator
    * choice). Verification recomputes the EXACT cosine (same
    * `tfidfCosineOf`), so output ⊆ exact; on the fixture it reproduces
    * the full exact pair set (oracled against the exact SQL, the
    * `dedup_minhash_lsh` discipline: qualifying pairs have identical
    * salient sets ⇒ identical signatures ⇒ recall is deterministic 1,
    * TextAnalysisSpec asserts the bit-for-bit equality). */
  def textTfidfCosineMinhash(s: SparkSession, dir: String): DataFrame = {
    val weighted = tfidfWeighted(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = weighted.groupBy(col("doc_id"))
      .agg(collect_list(col("term")).as("shingles")) // order-free: minhash is a min
    val banded = Dedup.bandedSigs(sets)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifiedPairs(cand, weighted)
  }

  /** Recall report of the LSH path against the exact baseline — one row
    * (n_exact, n_found, recall). found ⊆ exact by construction (the LSH
    * leg verifies candidates with the SAME [[tfidfCosineOf]] formula),
    * and an exact pair is found IFF it co-occupies an SRP (table,
    * bucket) — a co-occupying exact pair becomes a candidate and passes
    * verification by assumption; a non-co-occupying pair never becomes
    * one. So the LSH leg needs ZERO candidate scoring: n_found = exact
    * pairs semi-joined against bucket co-membership, the same proved
    * collapse as [[Similarity.similarityKnnGraphLshRecall]] (this one is
    * strictly simpler — no ranking argument needed, membership alone
    * decides). The ORACLE deliberately replays the full two-leg pipeline
    * (buckets → candidate join → exact verify), so the driver hash
    * re-proves the collapse on every run. The pair expansion is
    * |exact|·tables rows — never the Σ|bucket|² candidate relation. At
    * 100 TB the truth side runs on a sampled slice; here the fixture is
    * small enough to compare in full. */
  def textTfidfLshRecall(s: SparkSession, dir: String): DataFrame = {
    // ONE persisted weighted index feeds the exact leg and the buckets
    val weighted = tfidfWeighted(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // referenced twice (count + semi join) — persist the tiny pair set,
    // not the posting-join subtree behind it
    val exact = tfidfCosineFrom(weighted).select(col("a_id"), col("b_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = tfidfBuckets(weighted, TfidfTables, TfidfPlanes)
    val found = exact
      .join(b.select(col("doc_id").as("a_id"), col("tbl"), col("bucket")),
        Seq("a_id"))
      .join(b.select(col("doc_id").as("b_id"), col("tbl"), col("bucket")),
        Seq("b_id", "tbl", "bucket"), "left_semi")
      .select(col("a_id"), col("b_id")).distinct()
      .agg(count(lit(1)).as("n_found"))
    exact.agg(count(lit(1)).as("n_exact")).crossJoin(broadcast(found))
      .select(col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Guard-routed tf-idf pairs — the production composition
    * [[textSalienceMonitor]] describes in prose, as ONE declared query:
    * a pre-flight aggregate over the posting index the pair join
    * consumes anyway computes the corpus-wide salient join volume
    * Σ df²; if it passes the monitor's budget (≤ 100·n_docs — ≤ 100
    * candidates per doc on average) the EXACT posting join runs,
    * otherwise the snapshot routes to the SRP-LSH candidate path whose
    * volume is governed by angle-space spread, not posting lists. The
    * pre-flight is the repo's sanctioned collect shape (a 1-row
    * aggregate fetch — the same decision a cost-based planner would
    * make from table stats); both routes emit the identical
    * (a_id, b_id, cosine) contract. On the fixture the guard passes and
    * the oracle pins the exact route bit-for-bit; on the vocabulary-
    * drift corpus the guard fires (StressScale's `_routed` probe prints
    * the taken route) and the query degrades gracefully to the ~0.83-
    * recall LSH subset instead of materializing a 71 756×-volume join
    * (BASELINE.md r10 probe). */
  def textTfidfPairsRouted(s: SparkSession, dir: String): DataFrame = {
    val weighted = tfidfWeighted(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (tfidfGuardOk(s, dir, weighted)) tfidfCosineFrom(weighted)
    else tfidfCosineLshFrom(weighted, TfidfTables, TfidfPlanes)
  }

  /** The pre-flight itself: salient Σ df² from the (persisted) weighted
    * index vs the monitor's 100·n_docs budget — one 1-row aggregate
    * fetch. Same arithmetic as [[textSalienceMonitor]]'s `__all__` row
    * (weighted has exactly one row per cap-surviving posting, so its
    * per-term row count IS the monitor's df). */
  private def tfidfGuardOk(s: SparkSession, dir: String,
      weighted: DataFrame): Boolean = {
    val pre = weighted.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("jv"))
      .crossJoin(documents(s, dir).agg(count(lit(1)).as("n")))
      .head()
    pre.getLong(0) <= 100L * pre.getLong(1)
  }

  /** True iff [[textTfidfPairsRouted]] takes the exact route — exposed
    * for TextAnalysisSpec's route checks and the StressScale route probe. */
  private[graft] def tfidfRouteIsExact(s: SparkSession, dir: String): Boolean =
    tfidfGuardOk(s, dir, tfidfWeighted(s, dir))

  /** Benchmark decontamination — the training-data hygiene op: flag every
    * document containing any probe n-gram from a (small, broadcast)
    * benchmark set. The probe set never grows with the corpus, so the
    * plan is: codegen'd one-pass shingling, explode, broadcast hash semi
    * join, per-doc count — no shuffle of document text at all; at 100 TB
    * the only shuffled rows are (doc_id) for the tiny contaminated set. */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq("key agg row", "batch window spark", "the row a",
      "data query small", "join batch table", "spark order data")
    val probeDf = probes.toDF("probe")
    documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .wordShingles(col("text"), 3, distinct = true)).as("shingle"))
      .join(broadcast(probeDf), col("shingle") === col("probe"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model quality score: the fraction of a document's
    * bigram INSTANCES found in the corpus's top-100 bigram vocabulary —
    * the cheap LM-style fluency filter. The vocabulary is a global top-k
    * (TakeOrderedAndProject — no single-partition window) broadcast to a
    * semi-joinable lookup; per-doc counts are exact integers and the rate
    * is one deterministic double division. */
  def textLmQuality(s: SparkSession, dir: String): DataFrame = {
    val bigrams = documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .wordShingles(col("text"), 2, distinct = false)).as("bigram"))
    val vocab = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bigram").asc).limit(100)
      .select(col("bigram").as("v_bigram"))
    bigrams
      .join(broadcast(vocab), col("bigram") === col("v_bigram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("v_bigram").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_bigrams").cast("double"))
          .as("hit_rate"))
      .orderBy(col("doc_id"))
  }

  /** Curriculum length-binning: ntile(10) deciles of document length
    * WITHIN each language (partitioned window — parallel across
    * languages, never a single-partition sort; at 100 TB the per-lang
    * ordering is the unavoidable cost and shuffles only
    * (lang, n_chars, doc_id) triples). Tie-broken by doc_id. */
  def textLengthDeciles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    documents(s, dir)
      .select(col("lang"), col("n_chars"), ntile(10).over(w).as("decile"))
      .groupBy(col("lang"), col("decile").cast("long").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("decile"))
  }

  private val ChunkSize = 64
  private val ChunkStride = 48

  /** RAG-style document chunking: fixed 64-token windows advancing by a
    * 48-token stride (16-token overlap so no boundary context is lost) —
    * the retrieval-index prep step of an embedding pipeline. Chunk starts
    * come from `sequence(0, n−1, stride)` exploded per document; each
    * chunk carries its token count and an engine-portable content
    * signature (first 8 md5 hex chars as an integer — the id a vector
    * store would key on). Pure per-row generate + project: no shuffle
    * before the final sort, parallel across documents, and the document
    * text itself never moves — only (doc_id, chunk) rows. */
  def textChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), size(toks).cast("long").as("n"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0L), col("n") - 1, lit(ChunkStride.toLong)))
          .as(Seq("chunk_idx", "chunk_start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start"),
        least(lit(ChunkSize.toLong), col("n") - col("chunk_start"))
          .as("chunk_tokens"),
        graft.functions.VectorExpressions.md5HeadLong(array_join(
          slice(col("toks"), (col("chunk_start") + 1).cast("int"),
            lit(ChunkSize)), " "), 8).as("chunk_sig"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Corpus-level collocation extraction: word bigrams ranked by lift =
    * P(xy)/(P(x)P(y)) — the exponential of PMI, identically ranked, but
    * computable with one exact integer product per side and a single
    * IEEE double division (log() would differ in ulps across engines;
    * the ratio is bit-identical). c_xy·N and c_x·c_y stay exact in Long
    * at test scale; at 1e13-token scale the products overflow and the
    * real pipeline switches to log-space PMI where cross-engine
    * bit-parity is no longer required.
    *
    * Shape: ONE corpus pass — each document emits its unigrams and its
    * bigrams into a single exploded scan (r4 made two full passes, one
    * per gram length, ~7 s at sf0.1), and one hash-aggregate counts
    * both classes together; a unigram key can never contain the
    * bigrams' joiner space, so `contains(" ")` splits the counted
    * relation back into the two count tables exactly. Map-side partials
    * do the heavy lifting, the scalar N rides a broadcast cross join,
    * and the two unigram-attach joins shuffle only the (tiny) c_xy ≥ 5
    * survivors. Top-50 via TakeOrderedAndProject with a total-order
    * tie-break. */
  def textPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val ve = graft.functions.VectorExpressions
    val counts = documents(s, dir)
      .select(explode(concat(
        ve.wordShingles(col("text"), 1, distinct = false),
        ve.wordShingles(col("text"), 2, distinct = false))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = counts.filter(!col("g").contains(" "))
    val n = uni.agg(sum(col("c")).as("n"))
    val bg = counts.filter(col("g").contains(" ") && col("c") >= 5)
      .select(col("g").as("bigram"), col("c").as("c_xy"),
        element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"))
    bg.crossJoin(broadcast(n))
      .join(uni.select(col("g").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("g").as("w2"), col("c").as("c_y")), "w2")
      .select(col("bigram"), col("c_xy"),
        ((col("c_xy") * col("n")).cast("double") /
          (col("c_x") * col("c_y")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("bigram").asc)
      .limit(50)
  }

  /** Deterministic per-group sample: top-20 documents per language by
    * md5(doc_id) order — a seeded shuffle both engines reproduce
    * bit-identically (unlike engine RNG, which forces `sampleBy` to a
    * rows-only check). One shuffle keyed by lang; at corpus scale a
    * low-cardinality group key concentrates each language on one
    * reducer, so the production shape pre-prunes with a per-partition
    * hash-threshold pass (keep the ~k smallest digests per partition,
    * then one tiny global window over ≤ k·partitions survivors). */
  def textSamplePergroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    documents(s, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .orderBy(col("lang"), col("rk"))
  }

  /** WEIGHTED sampling without replacement — Efraimidis–Spirakis
    * exponential race: each doc gets key −ln(u)/w (u uniform, w = its
    * weight; here n_chars, i.e. longer docs proportionally likelier) and
    * the k SMALLEST keys are the sample. Two properties make this the
    * 100 TB shape: (a) u comes from the same deterministic LCG coin as
    * `text_sample_hash`, so every worker — and every ENGINE — computes
    * identical keys: re-runs select the same sample and DuckDB can
    * replay the selection exactly (full value-level oracle, unlike the
    * RNG-based stratified query); (b) selection is a top-k
    * (TakeOrderedAndProject: per-partition k, then k·partitions rows to
    * the driver-side heap), never a global sort of the corpus. */
  def textSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = (pmod(col("doc_id") * 1103515245L + 12345L, lit(2147483647L)) + 1L)
      .cast("double") / 2147483648.0
    documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (-log(u) / col("n_chars")).as("k"))
      .orderBy(col("k")).limit(50)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Lexical-diversity quality metric without log(): the Simpson /
    * collision index Σ c_i(c_i−1) / (n(n−1)) — the probability two
    * sampled tokens coincide. High collision = repetitive boilerplate
    * (the docs an entropy filter would drop), but unlike entropy the
    * index is an exact integer ratio → one IEEE division, bit-identical
    * in any engine. Shape: two hash-aggregates (token counts per doc,
    * then per-doc sum) — both partial-aggregate-friendly, no joins. */
  def textSimpsonDiversity(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * (col("c") - 1)).as("collisions"))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("n"), col("collisions"),
        (col("collisions").cast("double") /
          (col("n") * (col("n") - 1)).cast("double")).as("simpson_index"))
      .orderBy(col("doc_id"))

  /** Frequency-ranked vocabulary build — the word↔id dictionary every
    * embedding/LM training run starts from. Token counts are one
    * hash-aggregate; the top-K cut runs as TakeOrderedAndProject
    * (executor-side partial top-K, no global sort of the full vocab);
    * only the K survivors see the single-partition ranking window,
    * which is exactly when a global window is legitimate — the input
    * is bounded by construction, not by luck. Ids are dense, 1-based,
    * deterministic (count desc, token asc — a total order). At an
    * unbounded vocab the id assignment switches to sort + per-partition
    * offsets (zipWithIndex shape); for top-K this IS the scale path. */
  def textVocabBuild(s: SparkSession, dir: String): DataFrame = {
    val counts = documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token").asc).limit(1000)
    top.withColumn("vocab_id",
        row_number().over(Window.orderBy(col("n").desc, col("token").asc))
          .cast("long"))
      .select(col("vocab_id"), col("token"), col("n"))
      .orderBy(col("vocab_id"))
  }

  /** Word frequency-of-frequencies spectrum — the Good–Turing input
    * table (how many word TYPES occur exactly r times) plus the
    * Good–Turing adjusted count r* = (r+1)·N_{r+1}/N_r where the next
    * spectrum row is exactly r+1 (else null — the classic unsmoothed
    * estimator is undefined at spectrum gaps). This is the corpus
    * statistic behind vocabulary-saturation checks and smoothing-model
    * fits; its heavy tail (N_1, the hapax count) is the standard "is
    * this corpus mostly unique junk?" diagnostic in web-scale curation.
    *
    * Scale: two partial-agg-friendly hash aggregates (token→count,
    * count→types). The final window is UNPARTITIONED but provably
    * input-bounded: a corpus of T tokens has at most O(√(2T)) distinct
    * frequencies (frequencies r₁<r₂<… sum to ≤ T, so k distinct values
    * force T ≥ k(k+1)/2) — ~45 k rows at a trillion tokens. Exactness:
    * all integers except the one per-row IEEE division. */
  def textFreqSpectrum(s: SparkSession, dir: String): DataFrame = {
    val spectrum = documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("r"))
      .groupBy(col("r")).agg(count(lit(1)).as("n_types"))
    val w = Window.orderBy(col("r").asc)
    spectrum
      .withColumn("total_tokens", col("r") * col("n_types"))
      .withColumn("gt_r_star",
        when(lead(col("r"), 1).over(w) === col("r") + 1,
          (col("r") + 1).cast("double") *
            lead(col("n_types"), 1).over(w).cast("double") /
            col("n_types").cast("double")))
      .orderBy(col("r"))
  }

  /** Okapi BM25 top-k retrieval (Robertson & Spärck Jones weighting;
    * Robertson et al., TREC-3 1994) — the classic lexical ranking the
    * RAG/eval side of a training pipeline runs beside embedding ANN.
    * Queries are the first 5 distinct tokens of the 3 smallest-id docs
    * (deterministic, engine-portable); k1 = 1.2 and b = 0.75 enter as
    * the exact rationals 6/5 and 3/4 so the whole per-term score clears
    * to Long floor-divisions:
    *   score_t = (idf·f·2200) div (1000·f + 300 + dlq),
    *   idf = (N·1000) div df   (the tf-idf family's monotone rational
    *                            transform — no ln, no cross-engine ulps),
    *   dlq = (900·dl·N) div L  (quantized length normalizer, = 900·b·
    *                            dl/avgdl with b's denominator folded in).
    * The per-doc score is a SUM OF EXACT INTEGERS, so ranking can never
    * flip on float summation order; the quantization loses < 1/2200 of
    * a rank unit per term (documented, same discipline as
    * `embedding_quantize`). Long headroom: idf ≤ N·1000, ×f×2200 —
    * fine to ~10⁹ docs; past that, widen to decimal(38,0) or rescale
    * idf, exactly like the TVD note above.
    *
    * Scale shape: ONE (doc, term) shuffle builds tf; df and (N, L) are
    * partial-agg-friendly aggregates; the query set broadcasts, so only
    * query-term postings survive the prune; per-doc length dl is a
    * MAP-ONLY projection of the corpus that the pruned candidate set
    * broadcasts INTO (the corpus never shuffles for the join — right
    * while |query terms| is bounded; unbounded query batches would flip
    * to a doc_id-keyed shuffle join); top-k is a per-query window over
    * the scored candidates only. */
  def textBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("f"))
      // referenced by the candidate prune AND the df aggregate — same
      // single-tokenize persist rationale as tfidfWeighted (r18)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = docs.agg(count(lit(1)).as("n"),
      sum(size(split(col("text"), " ")).cast("long")).as("l"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 5))).as("term"))
    // df must be the FULL-corpus document frequency (pruning before the
    // df aggregate would silently change idf), so prune tf and df
    // independently against the broadcast query terms
    val cand = tf.join(broadcast(q), Seq("term"))
      .join(broadcast(df.join(broadcast(q.select(col("term")).distinct()),
        Seq("term"))), Seq("term"))
    val scored = dl.join(broadcast(cand), Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .withColumn("s",
        expr("(((n * 1000L) div df) * f * 2200L) div " +
          "((1000L * f) + 300L + ((900L * dl * n) div l))"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per-source token-distribution drift as TOTAL VARIATION DISTANCE
    * against the rest of the corpus — the "which ingest source changed
    * under us?" monitor a production pipeline runs per snapshot. TVD is
    * chosen over KL/JS deliberately: it needs no logarithms, so the
    * whole statistic is exact integer arithmetic (counts and products)
    * with ONE final IEEE division — bit-identical across engines, where
    * a log-based divergence would sum non-correctly-rounded transcendentals
    * in engine-specific order.
    *
    * Identity that keeps it one-pass over each source's OWN vocabulary
    * (never source × corpus-vocab):
    *   2·NS·NR·TVD = Σ_{t∈S} |cS·NR − cR·NS| + NS·(NR − Σ_{t∈S} cR)
    * (the closed form folds every token ABSENT from the source). Long
    * headroom: each |term| ≤ NS·NR and the sum ≤ 2·NS·NR ≈ 2.5e10 at
    * sf0.1 — decimal(38,0) sums are the drop-in swap past ~1e18.
    *
    * Scale: one (source, token) aggregate, one token-keyed join of the
    * per-source counts to the corpus counts (both aggregates, partial-agg
    * friendly), a ≤|sources|-row broadcast of NS, one scalar N. */
  def textTvdDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val perSrc = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_s"))
    val corpus = tok.groupBy(col("token")).agg(count(lit(1)).as("c_t"))
    val ns = perSrc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val n = ns.agg(sum(col("n_s")).as("n_total"))
    perSrc.join(corpus, Seq("token"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .groupBy(col("source"))
      .agg(
        first(col("n_s")).as("n_tokens_src"),
        first(col("n_total") - col("n_s")).as("n_tokens_rest"),
        sum(abs(col("c_s") * (col("n_total") - col("n_s")) -
          (col("c_t") - col("c_s")) * col("n_s"))).as("present_term"),
        sum(col("c_t") - col("c_s")).as("rest_mass_present"))
      .select(col("source"), col("n_tokens_src"), col("n_tokens_rest"),
        ((col("present_term") +
          col("n_tokens_src") * (col("n_tokens_rest") - col("rest_mass_present")))
          .cast("double") /
          (lit(2.0) * col("n_tokens_src").cast("double") *
            col("n_tokens_rest").cast("double"))).as("tvd"))
      .orderBy(col("source"))
  }

  /** Vocabulary growth curve (Heaps' law readout): documents in doc_id
    * order, bucketed 50 at a time; per bucket the number of NEW word
    * types (tokens whose first occurrence falls in the bucket), the
    * token volume, and both cumulatives — the saturation diagnostic
    * ("is new data still adding vocabulary?") a corpus-curation pipeline
    * tracks per ingest batch. First occurrence = min(doc_id) per token,
    * one partial-agg-friendly aggregate; the cumulative window is
    * UNPARTITIONED but input-bounded by construction (≤ n_docs/50 bucket
    * rows, sitting above the bucket aggregates — PlanSpec's global-window
    * guard pins this). */
  def textVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val bucketW = 50L
    val tok = documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val newTypes = tok.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr(s"first_doc div $bucketW").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val volume = tok
      .groupBy(expr(s"doc_id div $bucketW").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("doc_id")).as("n_docs"))
    val w = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    volume.join(newTypes, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .orderBy(col("bucket"))
  }

  /** Salient-posting-volume guard — the production pre-flight for every
    * tf-idf pair query. The pair joins' cost driver is Σ df² over the
    * cap-surviving ("salient", df·10 ≤ N) terms: under vocabulary drift
    * (merging disjoint-vocabulary subcorpora) locally-common terms look
    * globally rare, pass the corpus-relative cap, and the join volume
    * explodes — the r10 10× probe measured 71 756× join volume / 242×
    * wall on exactly that null (BASELINE.md). This monitor is ONE cheap
    * aggregate pass over the posting relation the pair queries build
    * anyway: per source (≈ ingest snapshot) it reports how many
    * global-cap-surviving terms the source contributes postings to, its
    * posting volume (Σ per-source df), and its self-join volume
    * (Σ per-source df²), plus an `__all__` row carrying the corpus-wide
    * Σ df / Σ df². `guard_ok` = join_volume ≤ 100·n_docs (≤ 100
    * candidates per doc on average) — false is the signal to route the
    * snapshot to the LSH path instead of the exact posting join.
    * Exact-integer throughout → full DuckDB oracle. */
  def textSalienceMonitor(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    // the ONE corpus-sized pass: postings → per-(source, term) posting
    // counts. Persisted because every downstream relation (global df,
    // the cap, both report legs) derives from it, and a DataFrame
    // referenced N times re-executes its subtree N times — without the
    // persist this query scanned the corpus four times (measured in
    // PLANS.md before the restructure). The persisted relation is
    // vocabulary × sources — Heaps-bounded, tiny next to the corpus.
    val stp = docs
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // global df per term = Σ over sources of p (postings are partitioned
    // by source, so the sums agree with the direct per-term count)
    val dfRel = stp.groupBy(col("term")).agg(sum(col("p")).as("df"))
    val salTerms = dfRel.crossJoin(broadcast(nAll))
      .filter(col("df") * 10 <= col("n_all"))
    val perSource = stp
      .join(broadcast(salTerms.select(col("term"))), Seq("term"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_salient_terms"),
        sum(col("p")).as("posting_volume"),
        sum(col("p") * col("p")).as("join_volume"))
    val srcDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val bySource = srcDocs.join(perSource, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_salient_terms"), lit(0L)).as("n_salient_terms"),
        coalesce(col("posting_volume"), lit(0L)).as("posting_volume"),
        coalesce(col("join_volume"), lit(0L)).as("join_volume"))
    val total = salTerms
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_salient_terms"),
        coalesce(sum(col("df")), lit(0L)).as("posting_volume"),
        coalesce(sum(col("df") * col("df")), lit(0L)).as("join_volume"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(lit("__all__").as("source"), col("n_docs"),
        col("n_salient_terms"), col("posting_volume"), col("join_volume"))
    bySource.unionByName(total)
      .withColumn("guard_ok", col("join_volume") <= col("n_docs") * 100)
      .orderBy(col("source"))
  }

  private val WinnowK = 3  // gram width (tokens)
  private val WinnowW = 4  // window: one fingerprint per w consecutive grams
  private val WinnowPosSpace = 1L << 20 // pos < 2^20 (1M-token docs; chunk longer)

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS algorithm): per document, hash every [[WinnowK]]-token gram
    * and in each sliding window of [[WinnowW]] consecutive gram hashes
    * select the minimum (ties → rightmost). The selected set is ~2/(w+1)
    * of the grams yet GUARANTEES any verbatim overlap of at least
    * w + k − 1 tokens between two documents shares a fingerprint — the
    * detection floor [[dedup_substring_spans]]' full posting index pays
    * ~w× more rows for.
    *
    * Declarative selection trick: encode (hash, pos) into ONE long,
    * key = h·2²⁰ + (2²⁰−1−pos), so a plain window `min` picks the
    * rightmost-minimal gram (smaller key = larger pos among equal
    * hashes) — no argmin UDF, no struct ordering, exact in both engines.
    * The window partitions by doc_id and spans w rows — map-side after
    * one narrow sort per doc; DISTINCT dedups keys selected by several
    * overlapping windows. Positions are dense (every gram start exists),
    * so `pos ≥ w−1` is the full-window guard without a row_number.
    *
    * At 100 TB this is a map-only pass per document (the per-doc window
    * never crosses documents); the fingerprint index it feeds is ~20×
    * smaller than the substring-span posting index at (k=3, w=4) fixture
    * calibration — production would raise k/w (MOSS uses k=50, w=100
    * chars for code) and band the fingerprint join like the MinHash
    * index. */
  def textWinnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowFromDocs(documents(s, dir))

  private[graft] def winnowFromDocs(docs: DataFrame,
      k: Int = WinnowK, w: Int = WinnowW): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      // loud guard on the (hash, pos) single-long packing: a document
      // with >= 2^20 grams would wrap positions into the hash field and
      // silently corrupt every downstream fingerprint — fail instead
      // (production chunks oversized docs upstream). assert_true rides
      // a filter so column pruning can't silently drop the check.
      .filter(assert_true(size(col("w")) < lit(WinnowPosSpace + k),
        concat(lit("winnow: doc "), col("doc_id"),
          lit(s" exceeds $WinnowPosSpace grams; chunk it before" +
            " fingerprinting"))).isNull)
      // compiled gram hashing (Md5GramKeys nHex=10 ≡ the conv∘substring∘
      // md5∘array_join∘slice HOF chain — VectorExpressionsSpec);
      // posexplode's ordinal is the gram position
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExpressions
          .md5GramKeys(col("w"), k, 10)).as(Seq("p", "h")))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        (col("h") * WinnowPosSpace +
          (lit(WinnowPosSpace - 1) - col("p").cast("long"))).as("key"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("mk", min(col("key")).over(win))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("mk")).distinct()
      .select(col("doc_id"),
        (lit(WinnowPosSpace - 1) - col("mk").bitwiseAND(lit(WinnowPosSpace - 1)))
          .as("pos"),
        shiftrightunsigned(col("mk"), 20).as("fp"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Two-sample Kolmogorov–Smirnov drift between every source pair over
    * the document-length distribution — the NUMERIC companion of
    * [[textTvdDrift]] (which compares token categoricals). KS is chosen
    * over PSI/JS deliberately: it needs only max / abs / division over
    * exact integer cumulative counts, so the statistic is bit-identical
    * cross-engine (PSI's ln() is not IEEE-pinned and would flap the
    * driver hash).
    *
    * Shape: ONE corpus aggregate — the (source × n_chars) histogram,
    * bounded by sources · distinct lengths, tiny next to the corpus —
    * then everything downstream (per-source cumulative CDF, the
    * union-of-values grid with monotone-max forward fill, the pairwise
    * max-gap join) runs on that histogram relation. At 100 TB a
    * continuous metric would be bucketed to a fixed-width grid first
    * (same plan, coarser x-axis); the pair join is sources² · values —
    * driver-trivial for any real source count. `drift` applies the
    * classic α = 0.05 two-sample threshold 1.36·√((nₐ+n_b)/(nₐ·n_b)). */
  def textKsDrift(s: SparkSession, dir: String): DataFrame = {
    val hist = documents(s, dir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val srcN = hist.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("n_chars"))))
    val grid = hist.select(col("n_chars")).distinct()
      .crossJoin(broadcast(srcN))
    // cum is monotone per source, so a running max over the left-joined
    // grid forward-fills the step function (max skips nulls); rows
    // before a source's first value coalesce to 0
    val filled = grid.join(cum.select(col("source"), col("n_chars"), col("cum")),
        Seq("source", "n_chars"), "left")
      .withColumn("cumf", coalesce(
        max(col("cum")).over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars"))), lit(0L)))
      .select(col("source"), col("n_chars"),
        (col("cumf").cast("double") / col("n").cast("double")).as("cdf"),
        col("n"))
    val a = filled.select(col("source").as("source_a"), col("n_chars"),
      col("cdf").as("cdf_a"), col("n").as("n_a"))
    val b = filled.select(col("source").as("source_b"), col("n_chars"),
      col("cdf").as("cdf_b"), col("n").as("n_b"))
    a.join(b, Seq("n_chars"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cdf_a") - col("cdf_b"))).as("ks"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("ks"),
        (col("ks") > lit(1.36) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))).as("drift"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The Gopher quality-rule bundle (Rae et al. 2021, "Scaling Language
    * Models", Appendix A) — the named pre-filter battery production
    * pipelines (Gopher, FineWeb, Dolma) run before any model-based
    * scoring, re-expressed exactly:
    *   word count ∈ [50, 100k]; mean word length ∈ [3, 10]; ≥ 80 % of
    *   words contain an alphabetic character; ≥ 2 distinct required
    *   function words (Gopher's 8-word English list swapped for this
    *   corpus' own [[stopwords]] — same rule, corpus-appropriate list);
    *   ≤ 20 % of characters inside occurrences of the single most
    *   frequent 2-gram; ≤ 30 % of characters inside non-first
    *   occurrences of duplicated 5-grams.
    *
    * Everything is exact-integer until the final ratio: gram char mass
    * is count·length(gram) over the doc's raw length.
    *
    * Plan (r17, guide §2.4 "remove shuffles outright"): every statistic
    * here — including both gram masses — is a pure per-row function of
    * the document's own token sequence, so the whole rule battery is ONE
    * compiled map-side expression ([[graft.functions.VectorExpressions
    * .GopherTextStats]]) and the query's only exchange is the final
    * sort. The r16 shape paid a corpus-wide explode → (doc, width, gram)
    * shuffle → window/aggregate → two broadcast joins for row-local
    * work, plus four interpreted HOF lambdas per token (measured 2.8 s
    * isolated at sf0.1 → 0.6 s fused; plans/r17/text_gopher_rules_*).
    * The exploded twin survives in test sources as
    * `Twins.textGopherRulesTwin`, pinned bit-for-bit against this path
    * in VectorExpressionsSpec; the DuckDB
    * oracle is unchanged. `keep` is the conjunction — the bundle's
    * FineWeb-measured value is that it deletes boilerplate the
    * perplexity filters rate fluent. */
  def textGopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesFused(documents(s, dir))

  private[graft] def gopherRulesFused(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_raw"),
        graft.functions.VectorExpressions
          .gopherTextStats(col("text"), stopwords).as("g"))
      .select(col("doc_id"), col("g.n_tokens").as("n_tokens"),
        (col("g.top2_chars").cast("double") /
          col("n_chars_raw").cast("double")).as("top2_frac"),
        (col("g.dup5_chars").cast("double") /
          col("n_chars_raw").cast("double")).as("dup5_frac"),
        (col("g.n_tokens") >= 50 && col("g.n_tokens") <= 100000)
          .as("pass_wordcount"),
        (col("g.chars_in_tokens") >= col("g.n_tokens") * 3 &&
          col("g.chars_in_tokens") <= col("g.n_tokens") * 10).as("pass_wordlen"),
        (col("g.n_alpha") * 5 >= col("g.n_tokens") * 4).as("pass_alpha"),
        (col("g.stop_hits") >= 2).as("pass_stopwords"),
        (col("g.top2_chars") * 5 <= col("n_chars_raw")).as("pass_top2gram"),
        (col("g.dup5_chars") * 10 <= col("n_chars_raw") * 3).as("pass_dup5gram"))
      .withColumn("keep",
        col("pass_wordcount") && col("pass_wordlen") && col("pass_alpha") &&
          col("pass_stopwords") && col("pass_top2gram") && col("pass_dup5gram"))
      .orderBy(col("doc_id"))

  /** Shared oracle CTE block for the tf-idf LSH path: salient weights
    * (w MATERIALIZED — referenced by buckets, verify, and norms), SRP
    * buckets from the md5-term-hash LCG planes, candidate pairs, and
    * the exact-verified thresholded pair set `lshpairs`. Mirrors
    * [[tfidfWeighted]]/[[tfidfBuckets]]/[[textTfidfCosineLsh]]. */
  private val tfidfLshCte =
    """n AS (SELECT count(*) AS n_docs FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents) t
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |w AS MATERIALIZED (
      |  SELECT tf.doc_id, tf.term,
      |    CAST(tf.tf * ((n.n_docs * 1000) // df.df) AS BIGINT) AS w
      |  FROM tf JOIN df ON tf.term = df.term, n
      |  WHERE df.df * 10 <= n.n_docs),
      |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
      |          FROM w GROUP BY doc_id),
      |hterm AS (
      |  SELECT doc_id, term, w,
      |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h
      |  FROM w),
      |bits AS (
      |  SELECT doc_id, p.p AS p,
      |    CAST(sum(CASE WHEN ((h + p.p * 2654435761) % 1000003)
      |                       * 1103515245 % 65536 < 32768
      |             THEN w ELSE -w END) AS BIGINT) AS sp
      |  FROM hterm, range(32) p(p) GROUP BY 1, 2),
      |buckets AS MATERIALIZED (
      |  SELECT doc_id, p // 4 AS tbl,
      |    CAST(sum(CASE WHEN sp > 0 THEN 1 << CAST(p % 4 AS INT) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM bits GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM buckets a JOIN buckets b
      |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |cdots AS (
      |  SELECT c.a_id, c.b_id, CAST(sum(x.w * y.w) AS BIGINT) AS dot
      |  FROM cand c
      |  JOIN w x ON x.doc_id = c.a_id
      |  JOIN w y ON y.doc_id = c.b_id AND y.term = x.term
      |  GROUP BY 1, 2),
      |lshpairs AS (
      |  SELECT a_id, b_id, cosine FROM (
      |    SELECT d.a_id, d.b_id,
      |      CAST(d.dot AS DOUBLE) /
      |        sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
      |    FROM cdots d
      |    JOIN norms na ON na.doc_id = d.a_id
      |    JOIN norms nb ON nb.doc_id = d.b_id)
      |  WHERE cosine >= 0.5)""".stripMargin

  // exact all-pairs tf-idf cosine — the oracle for BOTH the exact
  // query and the MinHash-banded scale path (verified subset ≡ full set)
  private val TfidfCosineExactSql =
    """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * ((n.n_docs * 1000) // df.df) AS BIGINT) AS w
        |  FROM tf JOIN df ON tf.term = df.term, n
        |  WHERE df.df * 10 <= n.n_docs),
        |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
        |          FROM w GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, cosine FROM (
        |  SELECT a_id, b_id,
        |    CAST(dot AS DOUBLE) /
        |    sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        |  FROM dots
        |  JOIN norms na ON na.doc_id = a_id
        |  JOIN norms nb ON nb.doc_id = b_id)
        |WHERE cosine >= 0.5 ORDER BY a_id, b_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    // winnowing: same (hash,pos)->single-long encoding, plain window min,
    // distinct, decode. 40-bit md5-prefix hash, 2^20 position space.
    Declared("text_winnow_fingerprints", textWinnowFingerprints _,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    ('0x' || substr(md5(array_to_string(words[i:i+2], ' ')), 1, 10))::BIGINT
        |      * 1048576 + (1048575 - CAST(i - 1 AS BIGINT)) AS key
        |  FROM (SELECT doc_id, words,
        |               unnest(range(1, len(words) - 1)) AS i FROM w)),
        |m AS (
        |  SELECT doc_id, pos,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
        |  FROM g),
        |sel AS (SELECT DISTINCT doc_id, mk FROM m WHERE pos >= 3)
        |SELECT doc_id, 1048575 - (mk % 1048576) AS pos, mk // 1048576 AS fp
        |FROM sel ORDER BY doc_id, pos""".stripMargin),
    // KS drift: (source x n_chars) histogram, per-source cumulative CDF
    // forward-filled over the union value grid, pairwise max gap.
    // hist/filled are each referenced more than once -> MATERIALIZED.
    Declared("text_ks_drift", textKsDrift _,
      """WITH hist AS MATERIALIZED (
        |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
        |srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |cum AS (
        |  SELECT source, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum
        |  FROM hist),
        |grid AS (
        |  SELECT v.n_chars, s.source, s.n
        |  FROM (SELECT DISTINCT n_chars FROM hist) v CROSS JOIN srcn s),
        |filled AS MATERIALIZED (
        |  SELECT g.source, g.n_chars,
        |    CAST(coalesce(max(cum.cum) OVER (PARTITION BY g.source
        |      ORDER BY g.n_chars), 0) AS DOUBLE) / CAST(g.n AS DOUBLE) AS cdf,
        |    g.n
        |  FROM grid g LEFT JOIN cum
        |    ON cum.source = g.source AND cum.n_chars = g.n_chars)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  a.n AS n_a, b.n AS n_b,
        |  max(abs(a.cdf - b.cdf)) AS ks,
        |  max(abs(a.cdf - b.cdf)) > 1.36 * sqrt(CAST(a.n + b.n AS DOUBLE) /
        |    CAST(a.n * b.n AS DOUBLE)) AS drift
        |FROM filled a JOIN filled b ON a.n_chars = b.n_chars
        |WHERE a.source < b.source
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin),
    // Gopher rule bundle: per-word rules from one projection; top-2-gram
    // and duplicate-5-gram char mass from per-doc gram counts. w feeds
    // three consumers -> MATERIALIZED. DuckDB allows lateral alias reuse,
    // so `keep` references the pass_* aliases directly.
    Declared("text_gopher_rules", textGopherRules _,
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw,
        |         string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, n_chars_raw,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
        |      AS chars_in_tokens,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
        |      AS n_alpha,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','a','of','and','to','in'])) AS BIGINT) AS stop_hits
        |  FROM w),
        |c2 AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM (
        |    SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
        |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |          FROM w WHERE len(toks) >= 2)) GROUP BY 1, 2),
        |top2 AS (
        |  SELECT doc_id, cnt * length(gram) AS top2_chars FROM (
        |    SELECT doc_id, gram, cnt,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY cnt DESC, gram ASC) AS rn FROM c2)
        |  WHERE rn = 1),
        |c5 AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM (
        |    SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
        |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        |          FROM w WHERE len(toks) >= 5)) GROUP BY 1, 2),
        |dup5 AS (
        |  SELECT doc_id, CAST(sum((cnt - 1) * length(gram)) AS BIGINT) AS dup5_chars
        |  FROM c5 WHERE cnt >= 2 GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |  CAST(coalesce(top2_chars, 0) AS DOUBLE) / CAST(n_chars_raw AS DOUBLE)
        |    AS top2_frac,
        |  CAST(coalesce(dup5_chars, 0) AS DOUBLE) / CAST(n_chars_raw AS DOUBLE)
        |    AS dup5_frac,
        |  b.n_tokens BETWEEN 50 AND 100000 AS pass_wordcount,
        |  chars_in_tokens >= b.n_tokens * 3 AND chars_in_tokens <= b.n_tokens * 10
        |    AS pass_wordlen,
        |  n_alpha * 5 >= b.n_tokens * 4 AS pass_alpha,
        |  stop_hits >= 2 AS pass_stopwords,
        |  coalesce(top2_chars, 0) * 5 <= n_chars_raw AS pass_top2gram,
        |  coalesce(dup5_chars, 0) * 10 <= n_chars_raw * 3 AS pass_dup5gram,
        |  pass_wordcount AND pass_wordlen AND pass_alpha AND pass_stopwords
        |    AND pass_top2gram AND pass_dup5gram AS keep
        |FROM base b
        |LEFT JOIN top2 USING (doc_id)
        |LEFT JOIN dup5 USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
    // same global df·10 ≤ N cap as every tf-idf oracle; exact integers
    Declared("text_salience_monitor", textSalienceMonitor _,
      """WITH tf AS MATERIALIZED (
        |  SELECT source, doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY 1, 2, 3),
        |n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_all FROM documents),
        |df AS MATERIALIZED (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sal AS (
        |  SELECT tf.source, tf.term FROM tf JOIN df USING (term), n
        |  WHERE df.df * 10 <= n.n_all),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS p
        |       FROM sal GROUP BY 1, 2),
        |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |        FROM documents GROUP BY 1),
        |per AS (
        |  SELECT src.source, src.n_docs,
        |    CAST(count(st.term) AS BIGINT) AS n_salient_terms,
        |    CAST(coalesce(sum(st.p), 0) AS BIGINT) AS posting_volume,
        |    CAST(coalesce(sum(st.p * st.p), 0) AS BIGINT) AS join_volume
        |  FROM src LEFT JOIN st USING (source) GROUP BY 1, 2),
        |tot AS (
        |  SELECT '__all__' AS source, (SELECT n_all FROM n) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_salient_terms,
        |    CAST(coalesce(sum(df.df), 0) AS BIGINT) AS posting_volume,
        |    CAST(coalesce(sum(df.df * df.df), 0) AS BIGINT) AS join_volume
        |  FROM df, n WHERE df.df * 10 <= n.n_all)
        |SELECT source, n_docs, n_salient_terms, posting_volume, join_volume,
        |  join_volume <= n_docs * 100 AS guard_ok
        |FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
        |ORDER BY source""".stripMargin),
    Declared("text_tvd_drift", textTvdDrift _,
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |per_src AS (SELECT source, token, count(*) AS c_s FROM tok GROUP BY 1, 2),
        |corpus AS (SELECT token, count(*) AS c_t FROM tok GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM per_src GROUP BY 1),
        |n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ns),
        |terms AS (
        |  SELECT p.source, ns.n_s AS n_s, n.n_total - ns.n_s AS n_r,
        |    CAST(sum(abs(p.c_s * (n.n_total - ns.n_s) - (c.c_t - p.c_s) * ns.n_s))
        |      AS BIGINT) AS present_term,
        |    CAST(sum(c.c_t - p.c_s) AS BIGINT) AS rest_mass
        |  FROM per_src p
        |  JOIN corpus c USING (token)
        |  JOIN ns USING (source)
        |  CROSS JOIN n
        |  GROUP BY 1, 2, 3)
        |SELECT source, n_s AS n_tokens_src, n_r AS n_tokens_rest,
        |  CAST(present_term + n_s * (n_r - rest_mass) AS DOUBLE) /
        |    (2.0 * CAST(n_s AS DOUBLE) * CAST(n_r AS DOUBLE)) AS tvd
        |FROM terms ORDER BY source""".stripMargin),
    Declared("text_vocab_growth", textVocabGrowth _,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |nt AS (
        |  SELECT first_doc // 50 AS bucket, count(*) AS n_new_types FROM (
        |    SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token)
        |  GROUP BY 1),
        |vol AS (
        |  SELECT doc_id // 50 AS bucket, count(*) AS n_tokens,
        |         count(DISTINCT doc_id) AS n_docs
        |  FROM tok GROUP BY 1)
        |SELECT v.bucket, v.n_docs, v.n_tokens,
        |  COALESCE(nt.n_new_types, 0) AS n_new_types,
        |  CAST(sum(v.n_tokens) OVER (ORDER BY v.bucket) AS BIGINT) AS cum_tokens,
        |  CAST(sum(COALESCE(nt.n_new_types, 0)) OVER (ORDER BY v.bucket)
        |    AS BIGINT) AS cum_types
        |FROM vol v LEFT JOIN nt ON nt.bucket = v.bucket
        |ORDER BY v.bucket""".stripMargin),
    Declared("text_tfidf_cosine_lsh", textTfidfCosineLsh _,
      s"""WITH $tfidfLshCte
         |SELECT a_id, b_id, cosine FROM lshpairs
         |ORDER BY a_id, b_id""".stripMargin),
    // MinHash-banded candidates + the SAME exact verify reproduce the
    // full exact pair set (dedup_minhash_lsh discipline: verified-subset
    // + ~1e-9 false-negative odds ⇒ the exact SQL IS the oracle)
    Declared("text_tfidf_cosine_minhash", textTfidfCosineMinhash _, TfidfCosineExactSql),
    // the fixture passes the salience guard, so the routed query's
    // contract THERE is the exact posting join bit-for-bit; the LSH
    // fallback is exercised by StressScale's route probe on the
    // vocabulary-drift corpus (where no sub-quadratic oracle exists)
    Declared("text_tfidf_pairs_routed", textTfidfPairsRouted _, TfidfCosineExactSql),
    // quantized BM25: every arithmetic step is a Long floor-div (// in
    // DuckDB ≡ div in Spark) and the per-doc sum is exact-integer
    Declared("text_bm25_topk", textBm25TopK _,
      """WITH docs AS (SELECT * FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS l
        |        FROM docs),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs) t
        |  GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM docs),
        |q AS (SELECT doc_id AS query_id,
        |             unnest(list_distinct(string_split(text, ' ')[1:5])) AS term
        |      FROM docs WHERE doc_id < 3),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    CAST(sum((((tot.n * 1000) // df.df) * tf.f * 2200)
        |        // ((1000 * tf.f) + 300 + ((900 * dl.dl * tot.n) // tot.l)))
        |      AS BIGINT) AS score
        |  FROM q JOIN tf USING (term) JOIN df USING (term)
        |       JOIN dl ON dl.doc_id = tf.doc_id, tot
        |  GROUP BY 1, 2)
        |SELECT query_id, rnk, doc_id, score FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    Declared("text_tfidf_lsh_recall", textTfidfLshRecall _,
      s"""WITH $tfidfLshCte,
         |edots AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |epairs AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT d.a_id, d.b_id,
         |      CAST(d.dot AS DOUBLE) /
         |        sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
         |    FROM edots d
         |    JOIN norms na ON na.doc_id = d.a_id
         |    JOIN norms nb ON nb.doc_id = d.b_id)
         |  WHERE cosine >= 0.5)
         |SELECT
         |  CAST((SELECT count(*) FROM epairs) AS BIGINT) AS n_exact,
         |  CAST((SELECT count(*) FROM lshpairs) AS BIGINT) AS n_found,
         |  CAST((SELECT count(*) FROM lshpairs) AS DOUBLE) /
         |    CAST((SELECT count(*) FROM epairs) AS DOUBLE) AS recall""".stripMargin),
    Declared("text_freq_spectrum", textFreqSpectrum _,
      """WITH c AS (
        |  SELECT token, count(*) AS r FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |sp AS (SELECT r, count(*) AS n_types FROM c GROUP BY r)
        |SELECT r, n_types, r * n_types AS total_tokens,
        |  CASE WHEN lead(r) OVER (ORDER BY r) = r + 1
        |    THEN CAST(r + 1 AS DOUBLE) *
        |         CAST(lead(n_types) OVER (ORDER BY r) AS DOUBLE) /
        |         CAST(n_types AS DOUBLE)
        |  END AS gt_r_star
        |FROM sp ORDER BY r""".stripMargin),
    Declared("text_vocab_build", textVocabBuild _,
      """WITH c AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 1000)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
        |    AS vocab_id,
        |  token, n
        |FROM top ORDER BY vocab_id""".stripMargin),
    Declared("text_simpson_diversity", textSimpsonDiversity _,
      """WITH tc AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id, tok),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS collisions
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n, collisions,
        |  CAST(collisions AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
        |    AS simpson_index
        |FROM agg WHERE n >= 2 ORDER BY doc_id""".stripMargin),
    Declared("text_pmi_collocations", textPmiCollocations _,
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        |toks AS (SELECT unnest(words) AS w FROM w),
        |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |n AS (SELECT sum(c) AS n FROM uni),
        |bgx AS (
        |  SELECT unnest([array_to_string(words[i:i+1], ' ')
        |                 FOR i IN range(1, len(words))]) AS bigram
        |  FROM w WHERE len(words) >= 2),
        |bgc AS (
        |  SELECT bigram, count(*) AS c_xy FROM bgx GROUP BY bigram
        |  HAVING count(*) >= 5),
        |parts AS (
        |  SELECT bigram, c_xy,
        |    string_split(bigram, ' ')[1] AS w1,
        |    string_split(bigram, ' ')[2] AS w2
        |  FROM bgc)
        |SELECT bigram, c_xy,
        |  CAST(c_xy * n.n AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
        |FROM parts CROSS JOIN n
        |JOIN uni u1 ON parts.w1 = u1.w
        |JOIN uni u2 ON parts.w2 = u2.w
        |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin),
    Declared("text_sample_pergroup", textSamplePergroup _,
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin),
    Declared("text_chunk_overlap", textChunkOverlap _,
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, toks, n,
         |    unnest(range(0, n, $ChunkStride)) AS chunk_start
         |  FROM d WHERE n >= 1)
         |SELECT doc_id,
         |  CAST(chunk_start // $ChunkStride AS BIGINT) AS chunk_idx,
         |  chunk_start,
         |  CAST(least($ChunkSize, n - chunk_start) AS BIGINT) AS chunk_tokens,
         |  ('0x' || substr(md5(array_to_string(
         |     toks[CAST(chunk_start + 1 AS INT):CAST(chunk_start + $ChunkSize AS INT)],
         |     ' ')), 1, 8))::BIGINT AS chunk_sig
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),
    Declared("text_decontaminate", textDecontaminate _,
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(words[i:i+2], ' ')
        |                   FOR i IN range(1, len(words) - 1)]) AS shingles
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 3),
        |hits AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(shingles,
        |      ['key agg row', 'batch window spark', 'the row a',
        |       'data query small', 'join batch table', 'spark order data'])) AS BIGINT)
        |      AS n_hits
        |  FROM sh)
        |SELECT doc_id, n_hits FROM hits WHERE n_hits >= 1 ORDER BY doc_id""".stripMargin),
    Declared("text_lm_quality", textLmQuality _,
      """WITH bg AS (
        |  SELECT doc_id,
        |    [array_to_string(words[i:i+1], ' ') FOR i IN range(1, len(words))] AS bigrams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 2),
        |ex AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bg),
        |vocab AS (
        |  SELECT bigram FROM (
        |    SELECT bigram, count(*) AS c FROM ex GROUP BY bigram
        |    ORDER BY c DESC, bigram LIMIT 100)),
        |per AS (
        |  SELECT ex.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN vocab.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM ex LEFT JOIN vocab ON ex.bigram = vocab.bigram
        |  GROUP BY ex.doc_id)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, n_hits,
        |  CAST(n_hits AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS hit_rate
        |FROM per ORDER BY doc_id""".stripMargin),
    Declared("text_length_deciles", textLengthDeciles _,
      """WITH t AS (
        |  SELECT lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
        |  FROM documents)
        |SELECT lang, CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM t GROUP BY lang, decile ORDER BY lang, decile""".stripMargin),
    Declared("text_tfidf_topterms", textTfidfTopterms _,
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    (tf.tf * n.n_docs * 1000000) // df.df AS score_q
        |  FROM tf JOIN df ON tf.term = df.term, n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, score_q,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_q DESC, term ASC) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, tf, df, score_q
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    // integer tf-idf weights (same monotone idf transform as topterms)
    // make dots/norms exact Longs; cosine is one IEEE division
    Declared("text_tfidf_cosine", textTfidfCosine _, TfidfCosineExactSql),
    Declared("text_word_count", textWordCount _,
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin),
    // text_sample_stratified: the sampled SET is engine-RNG-specific, but
    // the per-stratum fraction verdict is oracle-checkable
    Declared("text_sample_stratified", textSampleStratified _,
      """SELECT lang, count(*) AS n_total, true AS frac_ok
        |FROM documents WHERE lang IN ('en', 'fr', 'es', 'de', 'zh')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Declared("text_sample_hash", textSampleHash _,
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id * 1103515245 + 12345) % 2147483647) % 100 <
        |      (CASE WHEN lang IN ('en', 'fr') THEN 50 ELSE 20 END)
        |ORDER BY doc_id""".stripMargin),
    // same LCG coin as text_sample_hash -> DuckDB replays the exact
    // exponential-race selection (keys differ at the top-50 boundary by
    // ~1/n relative gaps, far beyond any 1-ulp libm ln() divergence)
    Declared("text_sample_weighted", textSampleWeighted _,
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    -ln((((doc_id * 1103515245 + 12345) % 2147483647) + 1)
        |        / 2147483648.0) / n_chars AS k
        |  FROM documents ORDER BY k LIMIT 50)
        |ORDER BY doc_id""".stripMargin),
    Declared("text_quality", textQuality _,
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |f AS (SELECT doc_id, lang,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS chars_in_tokens,
         |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS n_stopwords
         |FROM t)
         |SELECT doc_id, lang, n_tokens, n_distinct, chars_in_tokens, n_stopwords,
         |  CAST(chars_in_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
         |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
         |  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 50.0 +
         |  (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 30.0 +
         |  (CASE WHEN n_tokens >= 50 AND n_tokens <= 2000 THEN 20.0 ELSE 0.0 END) AS quality_score
         |FROM f ORDER BY doc_id""".stripMargin),
    Declared("text_token_count", textTokenCount _,
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |       t -> (length(t) + 3) // 4)) AS BIGINT) AS bpe_est_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS BIGINT) AS regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    Declared("text_langid", textLangid _,
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of'], x))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(toks, x -> list_contains(['el','la','los','que'], x))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(toks, x -> list_contains(['le','les','des','une'], x))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(toks, x -> list_contains(['的','是','了','和'], x))) AS BIGINT) AS score_zh
        |FROM t),
        |p AS (SELECT lang,
        |  CASE
        |    WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) = 0 THEN 'und'
        |    WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
        |    WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
        |    WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
        |    WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
        |    ELSE 'zh' END AS predicted
        |FROM s)
        |SELECT lang, predicted, count(*) AS n_docs FROM p
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin),
    Declared("text_fingerprint", textFingerprint _,
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
