package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Declared
import graft.Tables._

/** End-to-end training-data pipeline composition — the point of the
  * operator library: the stages below are the standard corpus-curation
  * sequence (language gate → quality gate → exact dedup → near-dup
  * dedup → deterministic sampling → token accounting), each one an
  * operator that is ALSO individually declared and oracle-checked.
  * This query pins that they compose: one DataFrame plan, one DuckDB
  * oracle over the same semantics.
  *
  * Scale shape: every stage is a filter/aggregate over the shrinking
  * survivor set — no stage widens the data. Near-dup removal reuses the
  * MinHash-LSH pair set (provably equal to the exact Jaccard pairs at
  * this similarity regime — DedupSpec), dropping the higher doc_id of
  * each pair; the sample is the LCG hash coin (re-runs select the same
  * rows). At 100 TB the LSH pair build is the only super-linear stage
  * and is the documented index-build cost.
  */
object Pipeline {

  def trainingMix(s: SparkSession, dir: String): DataFrame =
    trainingMixObserved(s, dir, None, None)

  /** Budgeted training-mix assembly — the capstone composition of the
    * r10 curation additions, and the job a data team actually schedules:
    * "build an N-token mix from these sources at temperature-balanced
    * proportions". Stages, one declarative plan:
    *  1. quality gate (token-count band — the `text_quality` features);
    *  2. exact dedup (md5 text digest, min-doc_id keeper);
    *  3. per-source budget allocation: total budget = ⌊corpus tokens/5⌋,
    *     split ∝ the √-temperature weights of `curation_mixture_sample`
    *     (w_s = ⌊√(n_s·10⁶)⌋) — integer floor products, no float shares;
    *  4. hard first-fit cut per source in md5(doc_id) order (the
    *     `curation_token_budget_cut` motion) — EXACT budgets where the
    *     probabilistic mix only hits them in expectation;
    *  5. per-source accounting readout.
    * Every stage is the already-verified operator's shape; composing
    * them costs one extra broadcast join — no new shuffle beyond the
    * cut's source-partitioned window. */
  def pipelineBudgetMix(s: SparkSession, dir: String): DataFrame = {
    val quality = documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .filter(col("n_tok").between(5, 2000))
    // keeper = the min-doc_id ROW (struct-min, not independent per-column
    // mins: identical texts can span sources, and the keeper must carry
    // ITS OWN source)
    val exact = quality
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_tok"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.source").as("source"),
        col("k.n_tok").as("n_tok"))
    val per = exact.groupBy(col("source"))
      .agg(count(lit(1)).as("n_dedup"), sum(col("n_tok")).as("tok_dedup"))
      .withColumn("w", floor(sqrt(col("n_dedup").cast("double") * 1000000.0))
        .cast("long"))
    val tot = per.agg(sum(col("tok_dedup")).as("tok_total"),
      sum(col("w")).as("w_total"))
    val budgets = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_dedup"), col("tok_dedup"),
        expr("((tok_total div 5L) * w) div w_total").as("budget_tokens"))
    Curation.firstFitCut(exact.join(broadcast(budgets), Seq("source")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tokens_kept"),
        first(col("n_dedup")).as("n_dedup"),
        first(col("budget_tokens")).as("budget_tokens"))
      .select(col("source"), col("n_dedup"), col("n_kept"),
        col("budget_tokens"), col("tokens_kept"),
        (col("tokens_kept").cast("double") /
          col("budget_tokens").cast("double")).as("utilization"))
      .orderBy(col("source"))
  }

  /** Same plan, optionally instrumented with `observe` metrics: input
    * and output accounting (row counts, token sums) are computed AS the
    * pipeline runs — accumulator-backed, zero extra scans, no second
    * job. At 100 TB this is the only affordable way to answer "how many
    * docs entered / survived this run": a separate count() pass would
    * re-read the corpus. The declared query passes None/None (identical
    * plan); PipelineObserveSpec pins the metrics against recomputation. */
  def trainingMixObserved(s: SparkSession, dir: String,
      obsIn: Option[org.apache.spark.sql.Observation],
      obsOut: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val docsRaw = documents(s, dir)
    val docs = obsIn.fold(docsRaw)(o => docsRaw.observe(o,
      count(lit(1)).as("n_docs_in"),
      sum(col("n_chars")).as("chars_in")))
    // 1. language gate
    val en = docs.filter(col("lang") === "en")
    // 2. quality gate: token-count band (the `text_quality` features)
    val quality = en
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("text"))
      .filter(col("n_tokens").between(20, 2000))
    // 3. exact dedup: keeper = min doc_id per identical text
    val exact = quality
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_tokens")).as("n_tokens"))
      .drop("text_md5")
    // 4. near-dup removal: drop the higher doc_id of every near-dup pair
    //    (LSH pair set == exact Jaccard pair set, so the oracle uses the
    //    brute-force pair SQL)
    val nearDupLosers = Indexes.nearDupPairs(s, dir)
      .select(col("b_id").as("doc_id")).distinct()
    val deduped = exact.join(nearDupLosers, Seq("doc_id"), "left_anti")
    // 5. deterministic 50% sample (LCG coin on doc_id — reproducible)
    val sampled = deduped
      .filter(pmod((col("doc_id") * 1103515245L + 12345L) % 2147483647L,
        lit(100L)) < 50)
      .select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
    // the output observation sits ABOVE the sort: a global sort's
    // range-partitioner runs a boundary-sampling pass that re-executes
    // the segment between the sort and the previous shuffle — an
    // observe inside that segment double-counts (measured: exactly 2×)
    obsOut.fold(sampled)(o => sampled.observe(o,
      count(lit(1)).as("n_docs_out"),
      sum(col("n_tokens")).as("tokens_out")))
  }

  /** Deterministic data-mix up-sampling — the low-resource-language
    * balancing step of a training mix: each language gets an integer
    * repeat factor `min(4, max_lang_docs div lang_docs)` (capped so no
    * shard explodes) and every document is materialized `factor` times
    * with a copy index, exactly what a sampling-with-replacement epoch
    * does but reproducibly. The checksum Σ doc_id·copy proves the rows
    * were really replicated, not just multiplied in an aggregate.
    *
    * Scale: factors come from a tiny per-language aggregate broadcast
    * back; replication is a map-side `explode(sequence(1, factor))` —
    * rows widen AT the executor, nothing shuffles until the final
    * 3-digit-cardinality aggregate. */
  def pipelineUpsampleMix(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
    val maxDocs = perLang.agg(max(col("n_raw")).as("max_raw"))
    val factors = perLang.crossJoin(broadcast(maxDocs))
      .select(col("lang"), col("n_raw"),
        greatest(lit(1L), least(lit(4L), expr("max_raw div n_raw")))
          .as("factor"))
    docs.join(broadcast(factors), Seq("lang"))
      .select(col("lang"), col("n_raw"), col("factor"), col("doc_id"),
        col("n_tokens"),
        explode(sequence(lit(1L), col("factor"))).as("copy"))
      .groupBy(col("lang"), col("n_raw"), col("factor"))
      .agg(count(lit(1)).as("n_upsampled"),
        sum(col("n_tokens")).as("tokens_upsampled"),
        sum(col("doc_id") * col("copy")).as("mix_checksum"))
      .orderBy(col("lang"))
  }

  /** Two-level exact re-aggregation — the incremental-rollup pattern that
    * makes 100 TB aggregation maintainable: DAILY partial aggregates
    * (what a production pipeline materializes per ingest batch) are
    * re-aggregated to monthly totals WITHOUT touching rows again. Exact
    * because counts and integer cents are algebraic (re-aggregable)
    * merge states; the monthly result provably equals the direct
    * aggregate. Mirrors the mergeable-HLL pattern (`agg_hll_orders`)
    * with exact arithmetic. */
  def rollupReaggregate(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("day_cents"))
    daily
      .groupBy(year(col("d")).cast("long").as("y"),
        month(col("d")).cast("long").as("m"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("day_cents")).as("total_cents"),
        count(lit(1)).as("n_days"))
      .orderBy(col("y"), col("m"))
  }

  /** Data-quality gate — the expectations report run before promoting a
    * batch: each rule is (violations, rows checked); referential
    * integrity is a broadcast left join null-count, everything else is a
    * map-side conditional count. Rules unioned as independent branches
    * (each scans only its needed columns). `negative_acctbal` fires on
    * the fixtures; the rest pin clean-data zeros. */
  def dqCheckOrders(s: SparkSession, dir: String): DataFrame = {
    def rule(name: String, df: DataFrame, bad: org.apache.spark.sql.Column) =
      df.agg(sum(when(bad, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_checked"))
        .select(lit(name).as("rule"), col("n_violations"), col("n_checked"))
    val orphans = orders(s, dir)
      .join(broadcast(customer(s, dir).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_outer")
    Seq(
      rule("null_custkey", orders(s, dir), col("o_custkey").isNull),
      rule("nonpositive_price", orders(s, dir), col("o_totalprice") <= 0),
      rule("orphan_custkey", orphans, col("c_custkey").isNull),
      rule("future_orderdate", orders(s, dir),
        col("o_orderdate") > lit("2001-12-31").cast("timestamp")),
      rule("discount_range", lineitem(s, dir),
        col("l_discount") < 0 || col("l_discount") > 0.5),
      rule("negative_acctbal", customer(s, dir), col("c_acctbal") < 0),
    ).reduce(_.unionByName(_)).orderBy(col("rule"))
  }

  /** Deterministic negative sampling for contrastive training pairs:
    * each anchor document draws 4 pseudo-random negatives via an LCG
    * step on (anchor·4 + slot) mod corpus size — reproducible in any
    * engine (re-runs and the oracle select identical negatives, unlike
    * engine RNG). Self-collisions (neg == anchor) are dropped; the
    * final left-semi join against the corpus keeps the sampler honest
    * under non-contiguous doc_ids (a gap'd id space just resamples).
    *
    * Scale: the corpus size is one broadcast scalar; candidate
    * generation is a map-side explode (rows widen at the executor); the
    * only shuffle is the semi-join on neg_id — and when the id space is
    * known-contiguous that join is provably a no-op and is dropped,
    * making the whole sampler map-only. Overflow-safe under ANSI for
    * doc_id < ~5e8 (then switch the LCG to 128-bit or hash-fold). */
  def pipelineNegativeSamples(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val cands = docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("anchor_id"),
        explode(sequence(lit(0L), lit(3L))).as("slot"), col("n_docs"))
      .withColumn("neg_id",
        pmod(((col("anchor_id") * 4 + col("slot")) * 1103515245L + 12345L)
          % 2147483647L, col("n_docs")))
      .filter(col("neg_id") =!= col("anchor_id"))
    cands
      .join(docs.select(col("doc_id").as("neg_id")), Seq("neg_id"), "left_semi")
      .select(col("anchor_id"), col("slot"), col("neg_id"))
      .orderBy(col("anchor_id"), col("slot"))
  }

  /** Deterministic epoch shuffle — the last stage of a training-data
    * pipeline: each epoch permutes the corpus by a seeded hash so (a)
    * every worker can recompute its shard's order independently with no
    * coordination, and (b) a re-run (or a resumed job) sees the SAME
    * permutation. Shard = md5 prefix mod n_shards, position = rank of
    * the md5 within the shard — a different epoch seed yields an
    * uncorrelated permutation. Map-side keying + one bounded window
    * per shard (shards are the parallel unit, so per-shard ranking is
    * exactly the work each trainer does locally at 100 TB). */
  def pipelineEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val epoch = 1
    val shards = 8L
    val key = md5(concat(col("doc_id").cast("string"), lit(s":$epoch")))
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
    documents(s, dir)
      .select(col("doc_id"), key.as("key"))
      .withColumn("shard",
        pmod(conv(substring(col("key"), 1, 8), 16, 10).cast("long"), lit(shards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Globally-CONTIGUOUS epoch index (0..N-1) — what a dataloader needs
    * to address any training example by position — computed WITHOUT the
    * naive global row_number's single-partition sort: the classic
    * two-phase distributed enumeration. Phase 1 buckets rows by the
    * first two hex chars of the seeded md5 key (an ORDER-PRESERVING
    * range split: the bucket is a prefix of the sort key, so bucket
    * order + within-bucket key order IS the global key order) and ranks
    * within each of the 256 buckets in parallel; phase 2 computes
    * per-bucket offsets as a prefix sum over the 256-row count relation
    * (driver-scale, broadcast back) and adds them. Global position =
    * offset + local rank, provably equal to `row_number() OVER (ORDER
    * BY key)` — the oracle states exactly that. At 100 TB this is the
    * only shape that works: the data-sized work is one hash-partitioned
    * window per bucket; only the 256-row count relation ever sees a
    * single-partition window. */
  def pipelineEpochGlobalIndex(s: SparkSession, dir: String): DataFrame = {
    val epoch = 1
    val key = md5(concat(col("doc_id").cast("string"), lit(s":$epoch")))
    val keyed = documents(s, dir)
      .select(col("doc_id"), key.as("key"))
      .withColumn("b", substring(col("key"), 1, 2))
    val wOff = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("b")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("b"), col("off"))
    val wB = Window.partitionBy(col("b")).orderBy(col("key"), col("doc_id"))
    keyed
      .withColumn("r", row_number().over(wB).cast("long"))
      .join(broadcast(offsets), Seq("b"))
      .select(col("doc_id"), (col("off") + col("r") - 1).as("epoch_pos"))
      .orderBy(col("epoch_pos"))
  }

  /** Dataloader shard assignment over the global epoch order — the step
    * between [[pipelineEpochGlobalIndex]] and W data-parallel workers:
    * worker w reads the contiguous position range
    * [⌊w·N/W⌋, ⌊(w+1)·N/W⌋), assigned per row as
    * shard = ⌊pos·W/N⌋ (exact integer arithmetic, no ntile — ntile's
    * global sort is the thing the two-phase index exists to avoid).
    * Emits per shard: document count, contiguous position bounds, and
    * the token mass each worker will actually stream (the balance a
    * dataloader cares about — count-balanced shards can be token-skewed,
    * which this report surfaces). One broadcast of the scalar N; the
    * shard aggregate is map-side combinable on ≤ W keys. */
  def pipelineWorkerShards(s: SparkSession, dir: String): DataFrame = {
    val W = 8
    val idx = pipelineEpochGlobalIndex(s, dir)
    val n = idx.agg(count(lit(1)).as("n_total"))
    val toks = documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    idx.crossJoin(broadcast(n))
      .join(toks, Seq("doc_id"))
      .select(expr(s"(epoch_pos * $W) div n_total").as("shard"),
        col("epoch_pos"), col("n_toks"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("epoch_pos")).as("pos_lo"),
        max(col("epoch_pos")).as("pos_hi"),
        sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  /** The APPLY step of exact-substring dedup (Lee et al. 2022): take
    * [[Dedup.dedupSubstringSpans]]' maximal duplicate spans and CUT them
    * from every document, emitting the cleaned text plus accounting.
    * Contract: every occurrence is removed (the "drop all copies" mode —
    * Lee et al. measured no quality loss vs keep-one, and it needs no
    * global ownership election, so it is the distributed-friendly
    * choice; keep-one would add a min-doc_id winner join per span
    * cluster).
    *
    * Shape: spans collect per doc as (start, end) INTERVALS (maximal
    * spans are disjoint by construction, so the per-doc span list is
    * tiny next to the token mass it covers), one broadcast-free
    * equi-join back to documents on doc_id, then a map-only indexed
    * filter over the token array testing interval membership —
    * O(n_spans · doc_len) per document, vs the covered-position
    * formulation's O(Σ span_len · doc_len), which goes quadratic on a
    * long heavily-duplicated document (the covered list is as long as
    * the document itself). No window, no global structure — the cut is
    * embarrassingly per-document once the span relation exists. */
  def pipelineSpanCut(s: SparkSession, dir: String): DataFrame = {
    val cov = Dedup.dedupSubstringSpans(s, dir)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    documents(s, dir)
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        coalesce(col("spans"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("spans"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens_before"),
        expr("""filter(w, (t, i) -> NOT exists(spans,
                 sp -> CAST(i AS BIGINT) >= sp.s AND CAST(i AS BIGINT) <= sp.e))""")
          .as("kept"))
      .select(col("doc_id"), col("n_tokens_before"),
        size(col("kept")).cast("long").as("n_tokens_after"),
        (col("n_tokens_before") - size(col("kept")).cast("long")).as("n_tokens_cut"),
        array_join(col("kept"), " ").as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Curation-funnel accounting — the stage-by-stage report every
    * production pipeline publishes beside its output: documents and
    * tokens surviving each gate, in order
    *   0_raw → 1_quality (Gopher rule bundle keep) →
    *   2_dedup (exact dedup, min-doc_id keeper among survivors) →
    *   3_span_cut (duplicate-substring mass cut from survivors, spans
    *   recomputed AMONG survivors — df ≥ 2 is relative to the corpus
    *   that remains, the order Lee et al. run the two dedups in).
    * Each stage is a semi join on doc_id + one count/sum aggregate over
    * the survivor relation — accounting rides relations the pipeline
    * already builds; only the stage totals (4 rows) ever reach the
    * driver. */
  def pipelineCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
          coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    val quality = docs.join(
      TextAnalysis.textGopherRules(s, dir).filter(col("keep"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = quality.join(
      quality.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // span mass among survivors: spans are disjoint per doc, so the cut
    // token total is one sum over the span relation
    val spanMass = Dedup.spansFromDocs(keepers)
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("cut"))
    val afterCut = stage("2_dedup", keepers).crossJoin(spanMass)
      .select(lit("3_span_cut").as("stage"), col("n_docs"),
        (col("n_tokens") - col("cut")).as("n_tokens"))
    stage("0_raw", docs)
      .unionByName(stage("1_quality", quality))
      .unionByName(stage("2_dedup", keepers))
      .unionByName(afterCut)
      .orderBy(col("stage"))
  }

  // near-dup pairs: same brute-force formulation as Dedup.jaccardPairsSql
  // (the LSH result provably equals it); only the loser ids are needed
  val declared: Seq[Declared] = Seq(
    // span cut: shared span CTEs -> covered positions per doc -> indexed
    // list_filter (DuckDB lambda index i is 1-based; positions 0-based)
    Declared("pipeline_span_cut", pipelineSpanCut _,
      s"""WITH ${Dedup.substringSpanCtes},
         |cov AS (
         |  SELECT doc_id, list(pos) AS cov FROM (
         |    SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos
         |    FROM spans) GROUP BY doc_id),
         |cut AS (
         |  SELECT d.doc_id,
         |    string_split(d.text, ' ') AS w,
         |    coalesce(cov.cov, []::BIGINT[]) AS cov
         |  FROM documents d LEFT JOIN cov USING (doc_id)),
         |kept AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens_before,
         |    list_filter(w, (t, i) -> NOT list_contains(cov, CAST(i - 1 AS BIGINT)))
         |      AS k
         |  FROM cut)
         |SELECT doc_id, n_tokens_before,
         |  CAST(len(k) AS BIGINT) AS n_tokens_after,
         |  n_tokens_before - CAST(len(k) AS BIGINT) AS n_tokens_cut,
         |  coalesce(array_to_string(k, ' '), '') AS text_clean
         |FROM kept ORDER BY doc_id""".stripMargin),
    // funnel: gopher-keep CTEs (g-prefixed; the rule arithmetic mirrors
    // the text_gopher_rules oracle - drift shows red at the driver),
    // exact-dedup keepers among survivors, spans recomputed on keepers
    Declared("pipeline_curation_funnel", pipelineCurationFunnel _,
      s"""WITH gw AS MATERIALIZED (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars_raw,
         |         string_split(text, ' ') AS toks FROM documents),
         |gbase AS (
         |  SELECT doc_id, n_chars_raw,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
         |      AS chars_in_tokens,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
         |      AS n_alpha,
         |    CAST(len(list_intersect(list_distinct(toks),
         |      ['the','a','of','and','to','in'])) AS BIGINT) AS stop_hits
         |  FROM gw),
         |gc2 AS (
         |  SELECT doc_id, gram, count(*) AS cnt FROM (
         |    SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
         |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |          FROM gw WHERE len(toks) >= 2)) GROUP BY 1, 2),
         |gtop2 AS (
         |  SELECT doc_id, cnt * length(gram) AS top2_chars FROM (
         |    SELECT doc_id, gram, cnt,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY cnt DESC, gram ASC) AS rn FROM gc2)
         |  WHERE rn = 1),
         |gc5 AS (
         |  SELECT doc_id, gram, count(*) AS cnt FROM (
         |    SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
         |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
         |          FROM gw WHERE len(toks) >= 5)) GROUP BY 1, 2),
         |gdup5 AS (
         |  SELECT doc_id, CAST(sum((cnt - 1) * length(gram)) AS BIGINT) AS dup5_chars
         |  FROM gc5 WHERE cnt >= 2 GROUP BY 1),
         |gk AS (
         |  SELECT b.doc_id FROM gbase b
         |  LEFT JOIN gtop2 USING (doc_id)
         |  LEFT JOIN gdup5 USING (doc_id)
         |  WHERE b.n_tokens BETWEEN 50 AND 100000
         |    AND chars_in_tokens >= b.n_tokens * 3
         |    AND chars_in_tokens <= b.n_tokens * 10
         |    AND n_alpha * 5 >= b.n_tokens * 4
         |    AND stop_hits >= 2
         |    AND coalesce(top2_chars, 0) * 5 <= n_chars_raw
         |    AND coalesce(dup5_chars, 0) * 10 <= n_chars_raw * 3),
         |quality AS MATERIALIZED (
         |  SELECT g.doc_id, g.text, CAST(len(g.toks) AS BIGINT) AS n_toks
         |  FROM gw g JOIN gk USING (doc_id)),
         |keepers AS MATERIALIZED (
         |  SELECT q.doc_id, q.text, q.n_toks FROM quality q
         |  JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |        FROM quality GROUP BY 1) k USING (doc_id)),
         |${Dedup.substringSpanCtesFor("keepers")},
         |cutmass AS (
         |  SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS cut FROM spans)
         |SELECT * FROM (
         |  SELECT '0_raw' AS stage, count(*) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents
         |  UNION ALL
         |  -- coalesce mirrors the engine's coalesce(sum(...), 0): on a corpus
         |  -- where a gate rejects everything, SQL sum over the empty
         |  -- survivor set is NULL but the engine emits 0L
         |  SELECT '1_quality', count(*),
         |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM quality
         |  UNION ALL
         |  SELECT '2_dedup', count(*),
         |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM keepers
         |  UNION ALL
         |  SELECT '3_span_cut', (SELECT count(*) FROM keepers),
         |    (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM keepers) -
         |      (SELECT cut FROM cutmass)
         |) ORDER BY stage""".stripMargin),
    // worker shards: the naive epoch enumeration as a CTE, shard by
    // exact integer division, count/bounds/token-mass per shard
    Declared("pipeline_worker_shards", pipelineWorkerShards _,
      """WITH idx AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':1'), doc_id) - 1
        |      AS BIGINT) AS epoch_pos
        |  FROM documents),
        |n AS (SELECT count(*) AS n_total FROM idx),
        |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |        AS n_toks FROM documents)
        |SELECT (idx.epoch_pos * 8) // n.n_total AS shard,
        |  count(*) AS n_docs,
        |  min(idx.epoch_pos) AS pos_lo,
        |  max(idx.epoch_pos) AS pos_hi,
        |  CAST(sum(t.n_toks) AS BIGINT) AS n_tokens
        |FROM idx JOIN t ON t.doc_id = idx.doc_id CROSS JOIN n
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Declared("pipeline_epoch_shuffle", pipelineEpochShuffle _,
      """WITH k AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':1') AS key
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, key,
        |    ('0x' || substr(key, 1, 8))::BIGINT % 8 AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
        |    AS BIGINT) AS pos
        |FROM sh ORDER BY shard, pos""".stripMargin),
    // the contract the two-phase enumeration must reproduce exactly:
    // the naive global row_number over the seeded key
    Declared("pipeline_epoch_global_index", pipelineEpochGlobalIndex _,
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':1'), doc_id) - 1
        |    AS BIGINT) AS epoch_pos
        |FROM documents ORDER BY epoch_pos""".stripMargin),
    Declared("pipeline_negative_samples", pipelineNegativeSamples _,
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |slots AS (SELECT unnest(range(0, 4)) AS slot),
        |c AS (
        |  SELECT d.doc_id AS anchor_id, s.slot,
        |    ((d.doc_id * 4 + s.slot) * 1103515245 + 12345)
        |      % 2147483647 % n.n_docs AS neg_id
        |  FROM documents d CROSS JOIN n CROSS JOIN slots s)
        |SELECT anchor_id, slot, neg_id FROM c
        |WHERE neg_id <> anchor_id
        |  AND neg_id IN (SELECT doc_id FROM documents)
        |ORDER BY anchor_id, slot""".stripMargin),
    Declared("pipeline_training_mix", trainingMix _,
      """WITH sh AS (
        |  SELECT doc_id, n_chars,
        |    list_distinct([array_to_string(words[i:i+2], ' ')
        |                   FOR i IN range(1, len(words) - 1)]) AS shingles
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 3),
        |losers AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM sh a JOIN sh b
        |    ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 100
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5),
        |quality AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, text
        |  FROM documents
        |  WHERE lang = 'en' AND len(string_split(text, ' ')) BETWEEN 20 AND 2000),
        |exact AS (
        |  SELECT min(doc_id) AS doc_id, CAST(min(n_tokens) AS BIGINT) AS n_tokens
        |  FROM quality GROUP BY md5(text))
        |SELECT doc_id, n_tokens FROM exact
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |  AND ((doc_id * 1103515245 + 12345) % 2147483647) % 100 < 50
        |ORDER BY doc_id""".stripMargin),
    Declared("pipeline_budget_mix", pipelineBudgetMix _,
      """WITH quality AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 2000),
        |ranked AS (
        |  SELECT doc_id, source, n_tok,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) AS rn
        |  FROM quality),
        |ex AS MATERIALIZED (
        |  SELECT doc_id, source, n_tok FROM ranked WHERE rn = 1),
        |per AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_dedup,
        |    CAST(sum(n_tok) AS BIGINT) AS tok_dedup,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE) * 1000000.0)) AS BIGINT)
        |      AS w
        |  FROM ex GROUP BY source),
        |tot AS (SELECT CAST(sum(tok_dedup) AS BIGINT) AS tok_total,
        |               CAST(sum(w) AS BIGINT) AS w_total FROM per),
        |budgets AS MATERIALIZED (
        |  SELECT source, n_dedup, tok_dedup,
        |    ((tot.tok_total // 5) * w) // tot.w_total AS budget_tokens
        |  FROM per, tot),
        |cum AS (
        |  SELECT e.source, e.n_tok,
        |    CAST(sum(e.n_tok) OVER (PARTITION BY e.source
        |      ORDER BY md5(CAST(e.doc_id AS VARCHAR)), e.doc_id)
        |      AS BIGINT) AS cum_tok
        |  FROM ex e),
        |kept AS (
        |  SELECT c.source, count(*) AS n_kept,
        |    CAST(sum(c.n_tok) AS BIGINT) AS tokens_kept
        |  FROM cum c JOIN budgets b ON b.source = c.source
        |  WHERE c.cum_tok <= b.budget_tokens
        |  GROUP BY c.source)
        |SELECT b.source, b.n_dedup, CAST(k.n_kept AS BIGINT) AS n_kept,
        |  b.budget_tokens, k.tokens_kept,
        |  CAST(k.tokens_kept AS DOUBLE) / CAST(b.budget_tokens AS DOUBLE)
        |    AS utilization
        |FROM budgets b JOIN kept k ON k.source = b.source
        |ORDER BY b.source""".stripMargin),
    Declared("pipeline_upsample_mix", pipelineUpsampleMix _,
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |per_lang AS (SELECT lang, count(*) AS n_raw FROM docs GROUP BY lang),
        |f AS (
        |  SELECT lang, n_raw,
        |    greatest(1, least(4, (SELECT max(n_raw) FROM per_lang) // n_raw))
        |      AS factor
        |  FROM per_lang),
        |up AS (
        |  SELECT d.lang, f.n_raw, f.factor, d.doc_id, d.n_tokens,
        |    unnest(range(1, f.factor + 1)) AS copy
        |  FROM docs d JOIN f ON d.lang = f.lang)
        |SELECT lang, n_raw, CAST(factor AS BIGINT) AS factor,
        |  count(*) AS n_upsampled,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_upsampled,
        |  CAST(sum(doc_id * copy) AS BIGINT) AS mix_checksum
        |FROM up GROUP BY lang, n_raw, factor ORDER BY lang""".stripMargin),
    Declared("rollup_reaggregate", rollupReaggregate _,
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT CAST(year(d) AS BIGINT) AS y, CAST(month(d) AS BIGINT) AS m,
        |  CAST(sum(n) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(count(*) AS BIGINT) AS n_days
        |FROM daily GROUP BY y, m ORDER BY y, m""".stripMargin),
    Declared("dq_check_orders", dqCheckOrders _,
      """SELECT 'null_custkey' AS rule,
        |  CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_violations,
        |  count(*) AS n_checked FROM orders
        |UNION ALL
        |SELECT 'nonpositive_price',
        |  CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT), count(*) FROM orders
        |UNION ALL
        |SELECT 'orphan_custkey',
        |  CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT), count(*)
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |UNION ALL
        |SELECT 'future_orderdate',
        |  CAST(count(*) FILTER (o_orderdate > TIMESTAMP '2001-12-31') AS BIGINT),
        |  count(*) FROM orders
        |UNION ALL
        |SELECT 'discount_range',
        |  CAST(count(*) FILTER (l_discount < 0 OR l_discount > 0.5) AS BIGINT),
        |  count(*) FROM lineitem
        |UNION ALL
        |SELECT 'negative_acctbal',
        |  CAST(count(*) FILTER (c_acctbal < 0) AS BIGINT), count(*) FROM customer
        |ORDER BY rule""".stripMargin),
  )
}
