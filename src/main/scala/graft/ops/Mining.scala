package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.Tables._

/** Corpus-level text mining for training-data curation:
  *
  *  1. Repeated-passage mining (exact substring duplication a la Lee et
  *     al. 2022, "Deduplicating Training Data Makes Language Models
  *     Better"): which 5-gram passages recur across documents, and how
  *     much of each document is corpus-duplicated text. Unlike the
  *     document-level dedup family (`Dedup.scala`), this finds PARTIAL
  *     duplication — boilerplate, quoted passages, templated text —
  *     that whole-document hashing can never see.
  *
  *  2. DSIR-style importance resampling (Xie et al. 2023, "Data
  *     Selection for Language Models via Importance Resampling"):
  *     score every document by how target-domain-like its hashed
  *     n-gram feature distribution is, select the top scorers. The
  *     published method uses log-likelihood ratios of hashed n-gram
  *     features; this implementation keeps the same structure but
  *     replaces `log` with an integer-scaled probability RATIO so the
  *     score is exact integer arithmetic end-to-end (bit-identical in
  *     any engine — a float log-sum's accumulation order is not), which
  *     is what puts a full value-level DuckDB oracle on it.
  *
  *  3. Corpus statistics with exact-arithmetic formulations: rank-based
  *     winsorized length stats (`textWinsorize`).
  *
  *  4. Model training ON the corpus, the all-integer way: BPE tokenizer
  *     training + application (`textBpeMerges` / `textBpeEncode`) and a
  *     Naive-Bayes-flavored classifier with train/test evaluation
  *     (`textNbClassifier`) — every train→apply→evaluate trajectory is
  *     value-checked against DuckDB, which no float log-sum allows.
  *
  * Scale shape (100 TB): everything here is explode → one keyed shuffle
  * → aggregate, with models/weights always broadcast-sized (64–2560
  * rows) and iterative loops running over reduced relations (the
  * distinct word-frequency table for BPE), never re-scanning raw text.
  */
object Mining {

  private val GramN = 5

  /** (doc_id, lang, gram) — every word-level 5-gram of every document,
    * via the codegen'd [[graft.functions.VectorExpressions.WordShingles]]
    * expression (compiled loop; the `transform`+`slice`+`array_join` HOF
    * spelling pays one interpreted lambda dispatch per position per row
    * — same gap the dedup shingle pipeline measured). Documents shorter
    * than the gram width yield an empty array, which `explode` drops —
    * identical to the oracle's `len(words) >= n` guard. */
  private def grams(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.VectorExpressions
          .wordShingles(col("text"), GramN, distinct = false)).as("gram"))

  /** Top-50 corpus-repeated 5-gram passages: document frequency (how
    * many distinct documents contain the passage) and total occurrence
    * count. One shuffle keyed on the gram; the distinct-doc count rides
    * the same aggregate. Deterministic cut: (df DESC, n DESC, gram). */
  def textRepeatedPassages(s: SparkSession, dir: String): DataFrame =
    grams(s, dir)
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("n").desc, col("gram"))
      .limit(50)

  /** Per-language duplicated-passage mass: of all 5-grams emitted by a
    * language's documents, how many occur in ≥ 2 distinct documents
    * corpus-wide. The per-gram df table joins back to the gram relation
    * on the gram itself — at scale both sides are hash-partitioned on
    * the same key, so this is the standard big-big equi-join; the df
    * side is first reduced to one row per DISTINCT gram (far smaller
    * than the occurrence relation). `dup_ratio` is a single double
    * division over two exact longs — deterministic cross-engine. */
  def textDupPassageRatio(s: SparkSession, dir: String): DataFrame = {
    // the gram relation feeds BOTH the df aggregate and the join-back —
    // materialize it once (same pattern as the dedup shingle relations)
    val g = grams(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-lang totals never need the df join — they come straight off
    // the gram relation, so the join-back below carries ONLY grams with
    // df ≥ 2 (on a web corpus the df=1 tail is the large majority of
    // distinct grams; dropping it before the join changes nothing in
    // the dup counts and everything in the join volume)
    val totals = g.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_grams"))
    val repeated = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("gram_df"))
      .filter(col("gram_df") >= 2)
      .select(col("gram"))
    val dup = g.join(repeated, "gram")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("dup_grams"))
    totals.join(dup, Seq("lang"), "left")
      .na.fill(0L, Seq("dup_grams"))
      .select(col("lang"), col("n_docs"), col("total_grams"), col("dup_grams"),
        (col("dup_grams").cast("double") / col("total_grams").cast("double"))
          .as("dup_ratio"))
      .orderBy(col("lang"))
  }

  private val Buckets = 64
  /** md5-derived token bucket: the first 8 hex chars as a positive
    * 32-bit integer, mod `Buckets` — the one hash both engines spell
    * identically (`Dedup.scala` uses the same trick for simhash).
    * Computed by the compiled Md5HeadLong kernel (≡ the
    * conv∘substring∘md5 chain — VectorExpressionsSpec); this runs once
    * per token occurrence, the hottest expression in the family. */
  private val bucket =
    pmod(graft.functions.VectorExpressions.md5HeadLong(col("t"), 8),
      lit(Buckets.toLong))

  /** DSIR-style importance selection: target domain = English documents,
    * raw = whole corpus. Per hashed-unigram bucket b:
    *
    *   weight(b) = (10^6 * ct_b * Nr) div (cr_b * Nt)      (integer div)
    *
    * with ct/cr the add-one-smoothed target/raw token counts of b and
    * Nt/Nr the smoothed totals — an integer-scaled estimate of
    * p_target(b)/p_raw(b). A document's score is the LENGTH-NORMALIZED
    * sum of its tokens' bucket weights (integer-div by token count —
    * the unnormalized sum just rewards long documents); the top-100
    * (score DESC, doc_id) are selected. All-integer math end-to-end:
    * both engines produce the identical score, so the selected SET is
    * oracle-checkable, not just its size. MiningSpec asserts the
    * selection genuinely enriches the target domain vs the base rate.
    *
    * Scale: two token-level aggregates of width `Buckets` (map-side
    * partials collapse them to 64 rows each), one broadcast join of the
    * 64-row weight table against the token relation, one doc-keyed
    * aggregate, TakeOrderedAndProject for the cut. The corpus is never
    * shuffled except on doc_id for the final per-doc sum. */
  def textDsirSample(s: SparkSession, dir: String): DataFrame = {
    // three consumers (target counts, raw counts, the scoring join):
    // one tokenize+md5 pass, not three
    val toks = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), col("lang"), bucket.as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = toks.filter(col("lang") === "en")
      .groupBy(col("bk")).agg((count(lit(1)) + 1L).as("ct"))
    val raw = toks.groupBy(col("bk")).agg((count(lit(1)) + 1L).as("cr"))
    // smoothed totals: every one of the 64 buckets contributes its +1
    // whether or not it appears, so Nt/Nr = token count + Buckets —
    // independent of which buckets happen to be occupied.
    val totals = documents(s, dir)
      .select(col("lang"), (size(split(col("text"), " "))).cast("long").as("n"))
      .agg((sum(when(col("lang") === "en", col("n")).otherwise(0L)) +
             Buckets.toLong).as("nt"),
        (sum(col("n")) + Buckets.toLong).as("nr"))
    val weights = raw.join(tgt, Seq("bk"), "left")
      .na.fill(1L, Seq("ct")) // absent-in-target bucket: smoothed count 1
      .crossJoin(broadcast(totals))
      .select(col("bk"),
        expr("(1000000L * ct * nr) div (cr * nt)").as("w"))
    toks.join(broadcast(weights), "bk")
      .groupBy(col("doc_id"))
      .agg(first(col("lang")).as("lang"),
        expr("sum(w) div count(1)").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(100)
  }

  /** Winsorized length statistics per language — the outlier-clipping
    * pass a curation pipeline runs before computing corpus statistics:
    * per-lang p05/p95 bounds on `n_chars`, counts outside them, and the
    * clipped sum. The percentile here is the RANK-BASED discrete one —
    * the value at 0-based sorted index ⌊p·(n−1)⌋ — because interpolated
    * percentiles are float math with engine-specific accumulation,
    * while a rank index is exact integer arithmetic (the same reason
    * the DSIR score avoids log). Doc-id tie-break makes the row_number
    * deterministic, and the value at a rank is tie-break-independent.
    *
    * Scale: one window partitioned by lang (bounded: one partition per
    * language — fine at this fixture's 5 langs; a 100 TB corpus would
    * swap the rank window for `percentile_approx`, trading oracle
    * exactness for a fixed-size sketch, same downstream clamp). */
  def textWinsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    val ranked = d
      .withColumn("rn",
        (row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))) - 1).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("lang"))).cast("long"))
    val bounds = ranked
      .filter(col("rn") === expr("(5 * (n - 1)) div 100") ||
        col("rn") === expr("(95 * (n - 1)) div 100"))
      .groupBy(col("lang"))
      .agg(
        min(when(col("rn") === expr("(5 * (n - 1)) div 100"), col("n_chars")))
          .as("lo"),
        max(when(col("rn") === expr("(95 * (n - 1)) div 100"), col("n_chars")))
          .as("hi"))
    d.join(broadcast(bounds), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L)).as("n_above"),
        sum(greatest(least(col("n_chars"), col("hi")), col("lo"))).as("win_sum"))
      .orderBy(col("lang"))
  }

  private val BpeRounds = 10

  /** Token delimiter for BPE sequences: each token is wrapped
    * `\u0001tok\u0001`, so adjacent tokens meet as `\u0001\u0001` and a
    * merge-rule occurrence `\u0001a\u0001\u0001b\u0001` NEVER shares a
    * character with the next occurrence. That property is what makes a
    * single left-to-right non-overlapping `replace` pass EXACTLY
    * Sennrich's greedy merge: with the r8 space-padded form
    * (` a b a b `), consecutive occurrences shared a boundary space, so
    * one pass produced [ab, a, b] where true BPE gives [ab, ab] — a
    * deviation the oracle couldn't see because it replayed the same
    * replace. With disjoint occurrences the replace result equals the
    * per-word greedy left-to-right merge (MiningSpec pins this against
    * an independent token-vector implementation). Words containing the
    * delimiter are excluded up-front on both sides (none exist in the
    * fixture; the filter makes the contract data-independent). */
  private val BpeDelim = "\u0001"

  /** BPE tokenizer training (Sennrich et al. 2016) — learn the first 10
    * merge rules from the corpus: words become delimiter-wrapped
    * character sequences ([[BpeDelim]]); each round counts adjacent
    * token pairs, merges the most frequent (ties → lexicographic
    * (a, b)) everywhere, repeat. This is the tokenizer-training
    * workload of an LLM data pipeline expressed as 10 aggregate
    * passes — per round ONE pair-count shuffle over (pair, count) rows
    * and a map-only `replace` application; the corpus text is never
    * shuffled.
    *
    * Determinism contract (what makes the DuckDB oracle exact): pair
    * selection orders by (count DESC, a, b) — binary collation both
    * engines; merge application is string `replace` on the
    * delimiter-wrapped form, whose occurrences are character-disjoint,
    * so left-to-right replace-all (both engines) IS true BPE's greedy
    * left-to-right merge — see [[BpeDelim]]. The per-round argmax is a
    * driver-side single-row fetch:
    * 10 rows total cross the driver, never data.
    *
    * Scale: the working relation is (word, count) DISTINCT words — BPE
    * training on a 100 TB corpus runs on the word-frequency table
    * (orders of magnitude smaller), exactly as done here: pair counts
    * are weighted by word frequency. For production vocab sizes (30–50k
    * merges) use [[learnBpeMergesLocal]]: one distributed pass builds
    * the word-frequency table, which by Heaps' law fits on the driver,
    * and training runs locally — the one-Spark-job-per-merge shape of
    * the distributed loop is the right trajectory demo at 10 rounds and
    * a driver bottleneck by construction at 50 000. */
  def textBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedBpe(s, dir).toDF("rank", "pair", "merged", "n")
      .orderBy(col("rank"))
  }

  /** The corpus word-frequency table (w, wn) — the working relation of
    * BPE training (one distributed tokenize+count pass; by Heaps' law
    * the distinct-word table is orders of magnitude smaller than the
    * corpus). Words containing the sequence delimiter are excluded
    * (see [[BpeDelim]]; none exist in the fixture). */
  private def wordFrequencies(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains(BpeDelim))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))

  /** A word as a delimiter-wrapped character sequence (see [[BpeDelim]]):
    * `\u0001c\u0001\u0001c\u0001…` — each token carries its own
    * delimiters, adjacency is the double delimiter. */
  private def wrapSeq(w: Column): Column =
    concat(lit(BpeDelim), array_join(split(w, ""), BpeDelim + BpeDelim),
      lit(BpeDelim))

  /** One merge rule as a `replace` over the wrapped form: occurrences
    * are character-disjoint, so this single pass IS greedy left-to-right
    * BPE merge application (pinned vs the token-vector implementation in
    * MiningSpec). */
  private def applyRule(seq: Column, a: String, b: String): Column =
    org.apache.spark.sql.functions.replace(seq,
      lit(BpeDelim + a + BpeDelim + BpeDelim + b + BpeDelim),
      lit(BpeDelim + a + b + BpeDelim))

  /** The distributed training loop shared by [[textBpeMerges]] (reports
    * the rules) and [[textBpeEncode]] (applies them) — ONE Spark job per
    * merge round over the word-frequency table. Public so MiningSpec can
    * drive it past the declared 10 rounds; production vocab sizes belong
    * on [[learnBpeMergesLocal]] (see crossover note there). */
  /** Trained-tokenizer memo, same build-once discipline as the stored
    * ANN/pair indexes (`ops.Indexes`): a tokenizer is a per-corpus
    * ARTIFACT — trained once, applied everywhere — so the declared
    * train query and the encode query (which must replay the training
    * to know its rules) share one training run per (session, corpus)
    * instead of each paying the 10-round loop. The memo holds the rule
    * list itself (40 driver-side tuples), the exact thing a production
    * pipeline persists as the tokenizer file. */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Long, String, String, Long)]]()

  def trainedBpe(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    bpeCache.computeIfAbsent((s, dir), _ => trainBpe(s, dir))

  def trainBpe(s: SparkSession, dir: String,
      rounds: Int = BpeRounds): Seq[(Long, String, String, Long)] = {
    import org.apache.spark.storage.StorageLevel
    val dd = BpeDelim + BpeDelim
    val words = wordFrequencies(s, dir)
      .select(wrapSeq(col("w")).as("seq"), col("wn"))
    var seqs = words.persist(StorageLevel.MEMORY_AND_DISK)
    // previous round's relation: unpersisted only AFTER the current
    // round's collect materializes `seqs` (which reads it) — this keeps
    // the loop at ONE action per round instead of an extra count()
    var prev: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val pairRows = seqs
        .select(split(trim(col("seq"), BpeDelim), dd).as("t"), col("wn"))
        // size guard: sequence(1, 0) DESCENDS in Spark, so a 1-token
        // word would index element_at(t, 2) and throw under ANSI
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"))
          .as("p"), col("wn"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairRows.isEmpty) exhausted = true // every word fully merged
      else {
        val (a, b, n) = (pairRows(0).getString(0), pairRows(0).getString(1),
          pairRows(0).getLong(2))
        merges += ((round.toLong, s"$a $b", a + b, n))
        prev.foreach(_.unpersist())
        prev = None
        if (round < rounds) { // the post-final-merge corpus is unused
          var next = seqs
            .withColumn("seq", applyRule(col("seq"), a, b))
            .persist(StorageLevel.MEMORY_AND_DISK)
          // truncate lineage every 10 rounds: persist caches DATA but
          // the logical plan still chains every prior round's replace —
          // a deep iterative lineage is the classic Spark iterative-
          // algorithm OOM (the driver re-plans an O(rounds)-deep tree
          // each round; measured: 50 un-truncated rounds blow a 2 GiB
          // driver on the sf0.001 fixture). Same discipline as GraphX /
          // ALS checkpointing; eager localCheckpoint materializes the
          // (small) word-frequency relation and drops the plan history.
          if (round % 10 == 0) {
            val cp = next.localCheckpoint(true)
            next.unpersist()
            next = cp
          }
          prev = Some(seqs)
          seqs = next
        }
      }
      round += 1
    }
    seqs.unpersist()
    prev.foreach(_.unpersist())
    merges.result()
  }

  /** DRIVER-SIDE BPE training over the collected word-frequency table —
    * the production-vocab shape. The distributed loop above costs one
    * Spark job per merge: the right trajectory demo at the declared 10
    * rounds, a driver-scheduling bottleneck by construction at a real
    * tokenizer's 30–50k merges (50 000 sequential job submissions
    * dominated by scheduling, not compute). The standard move — and
    * what this does — is: ONE distributed pass builds (word, count)
    * [[wordFrequencies]], which by Heaps' law fits on the driver even
    * for a 100 TB corpus (≈ tens of millions of rows), then training
    * loops locally over token vectors with zero further cluster work.
    *
    * Semantics are IDENTICAL to the distributed loop — same weighted
    * pair counts, same (count DESC, a, b) tie-break, and greedy
    * left-to-right merge application per word, which is exactly what
    * the delimiter-wrapped `replace` computes (MiningSpec asserts rule
    * trajectory equality for 50 merges, far past the declared 10 — a
    * divergence anywhere would cascade into every later round's
    * counts). Crossover: below ~a few hundred merges either mode is
    * fine; past that, always this one. No route calls it yet: the
    * declared query trains 10 merges, and MiningSpec is its caller. */
  def learnBpeMergesLocal(wordFreq: Seq[(String, Long)],
      rounds: Int): Seq[(Long, String, String, Long)] = {
    var seqs: Array[(Array[String], Long)] = wordFreq.iterator
      .filter { case (w, _) => w.nonEmpty && !w.contains(BpeDelim) }
      .map { case (w, n) => (w.split(""), n) }
      .toArray
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (toks, wn) =>
        var i = 0
        while (i < toks.length - 1) {
          val k = (toks(i), toks(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + wn
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((round.toLong, s"$a $b", a + b, n))
        if (round < rounds) seqs = seqs.map { case (toks, wn) =>
          // greedy left-to-right merge — the token-vector statement of
          // the disjoint-occurrence replace in applyRule
          val out = Array.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
              out += a + b; i += 2
            } else { out += toks(i); i += 1 }
          }
          (out.result(), wn)
        }
      }
      round += 1
    }
    merges.result()
  }

  /** Collected (word, count) pairs for [[learnBpeMergesLocal]]. */
  def collectWordFrequencies(s: SparkSession, dir: String): Seq[(String, Long)] =
    wordFrequencies(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Apply the learned BPE vocabulary: per-language corpus compression.
    * Training yields 10 merge rules (driver-side, [[learnBpeMerges]]);
    * application is a MAP-ONLY fold of 10 `replace`s over each word's
    * padded character sequence — the corpus is tokenized in one pass
    * with zero shuffles before the final per-lang rollup, which is
    * exactly how a trained tokenizer deploys at 100 TB (rules broadcast
    * in the plan as literals; text never leaves its partition). Output:
    * characters (= tokens before any merge) vs BPE tokens after the 10
    * rules, per language. */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val rules = trainedBpe(s, dir)
    val dd = BpeDelim + BpeDelim
    val encoded = rules.foldLeft(
      documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1 && !col("w").contains(BpeDelim))
        .select(col("doc_id"), col("lang"), wrapSeq(col("w")).as("seq"))) {
      case (d, (_, pair, _, _)) =>
        val Array(a, b) = pair.split(" ", 2)
        d.withColumn("seq", applyRule(col("seq"), a, b))
    }
    encoded
      .select(col("lang"),
        size(split(trim(col("seq"), BpeDelim), dd)).cast("long").as("toks"),
        length(translate(col("seq"), BpeDelim, "")).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("chars")).as("n_chars"),
        sum(col("toks")).as("n_bpe_tokens"))
      .withColumn("compression",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
      .orderBy(col("lang"))
  }

  /** Classifier feature-space size — wider than DSIR's 64: with 5
    * classes the decision needs sharper per-bucket ratios than a
    * selection score does (64 buckets measured 25% test accuracy on
    * the fixture, 512 gives 45% with the ceiling set by the synthetic
    * shared vocabulary; 4096 adds nothing). */
  private val NbBuckets = 512

  /** Train-and-evaluate a Naive-Bayes-flavored language classifier —
    * the supervised-model-training workload of a curation pipeline
    * (quality/language/domain classifiers trained on the corpus
    * itself), expressed so the WHOLE train→predict→evaluate loop is
    * exact integer arithmetic and therefore value-checkable in DuckDB:
    *
    *  - split: train = doc_id % 3 ≠ 0, test = doc_id % 3 = 0;
    *  - features: the same hashed-unigram buckets as DSIR;
    *  - per class c the bucket weight is the integer-scaled likelihood
    *    ratio w(b,c) = ⌊10⁶·ct(b,c)·Nr / (cr(b)·N(c))⌋ (add-one
    *    smoothed; the NB log-likelihood replaced by a ratio sum exactly
    *    as in [[textDsirSample]] — `log` is the one step whose last
    *    ulp differs between engines);
    *  - a test document's class score is the sum of its tokens' class
    *    weights; prediction = argmax (score DESC, class ASC) via
    *    min(struct(-score, class)) — no window, map-side mergeable;
    *  - output: the (actual, predicted, n) confusion matrix.
    *
    * Scale: training is two token-level aggregates collapsing to
    * |B|×|classes| rows; the model (320 rows) broadcasts to the test
    * corpus — the classic "train tiny model, apply map-only" shape. */
  def textNbClassifier(s: SparkSession, dir: String): DataFrame =
    nbConfusion(documents(s, dir).select(col("doc_id"), col("lang"), col("text")))

  /** Core train/predict/evaluate over any (doc_id, label, text) frame —
    * public so MiningSpec can validate the learner on a CONSTRUCTED
    * separable dataset: on the driver fixture the `lang` label is
    * assigned independently of the text (all languages share one
    * vocabulary and even one marker distribution — measured), so the
    * Bayes-optimal prediction there is the majority class and the
    * declared query's value is the exact-arithmetic contract, not the
    * accuracy; the spec supplies labels that DO depend on the text and
    * asserts the same learner recovers them. The label column must be
    * named `lang`. */
  /** The NB train→predict core shared by the confusion matrix and the
    * AUC eval: returns the per-(test doc, class) integer score relation
    * (doc_id, lang, cls, score). See [[textNbClassifier]] for the
    * model; the dense (bk × class) weight grid guarantees every test
    * doc scores against every class. */
  private[graft] def nbScored(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), col("lang"),
        pmod(graft.functions.VectorExpressions.md5HeadLong(col("t"), 8),
          lit(NbBuckets.toLong)).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = toks.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
    val test = toks.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val perClass = train.groupBy(col("bk"), col("lang").as("cls"))
      .agg((count(lit(1)) + 1L).as("ct"))
    val raw = train.groupBy(col("bk")).agg((count(lit(1)) + 1L).as("cr"))
    val totals = train.groupBy(col("lang").as("cls"))
      .agg((count(lit(1)) + NbBuckets.toLong).as("nc"))
      .crossJoin(broadcast(
        train.agg((count(lit(1)) + NbBuckets.toLong).as("nr"))))
    // dense (bk × class) grid so absent buckets get the smoothed ct=1
    val grid = raw.crossJoin(broadcast(totals))
    val weights = grid.join(perClass, Seq("bk", "cls"), "left")
      .na.fill(1L, Seq("ct"))
      .select(col("bk"), col("cls"),
        expr("(1000000L * ct * nr) div (cr * nc)").as("w"))
    test.join(broadcast(weights), "bk")
      .groupBy(col("doc_id"), col("lang"), col("cls"))
      .agg(sum(col("w")).as("score"))
  }

  def nbConfusion(docs: DataFrame): DataFrame = {
    val scored = nbScored(docs)
    val predicted = scored
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("cls").as("cls")))
        .as("best"))
      .select(col("lang").as("actual"), col("best.cls").as("predicted"))
    predicted.groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("predicted"))
  }

  /** Ranking-quality evaluation of the NB classifier: one-vs-rest AUC
    * for the lexicographically smallest class, computed EXACTLY as the
    * Mann–Whitney U statistic (AUC = U/(P·N), Mann & Whitney 1947 —
    * the rank-sum identity, with ties at ½). No sampled thresholds, no
    * trapezoids, no floats until the single final division:
    * aggregating test scores to (score, n_pos, n_neg) rows turns U
    * into the exact integer Σ np·(2·cum_nn + nn) / 2 (each positive
    * beats every negative STRICTLY below its score and half-ties the
    * negatives AT its score), so the emitted `u2` = 2U is a Long and
    * `auc` is one IEEE division of exact operands — bit-identical in
    * DuckDB.
    *
    * Scale: scoring is the same broadcast-model map pass as the
    * confusion matrix; the rank cumulation is a window over the
    * SCORE-DISTINCT aggregate (distinct integer score sums — the
    * score-value cardinality, not the corpus; the PlanSpec
    * bounded-window guard pins the window above the aggregate), never
    * a global sort of per-document rows. */
  def textNbAuc(s: SparkSession, dir: String): DataFrame =
    nbAuc(documents(s, dir).select(col("doc_id"), col("lang"), col("text")))

  private[graft] def nbAuc(docs: DataFrame): DataFrame = {
    val scored = nbScored(docs)
    val pos = scored.agg(min(col("cls")).as("pos_cls"))
    val sc = scored.join(broadcast(pos), col("cls") === col("pos_cls"))
      .select(col("pos_cls"),
        when(col("lang") === col("cls"), lit(1L)).otherwise(lit(0L))
          .as("is_pos"),
        col("score"))
    val byScore = sc.groupBy(col("pos_cls"), col("score"))
      .agg(sum(col("is_pos")).as("np"),
        (count(lit(1)) - sum(col("is_pos"))).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").asc)
      .rowsBetween(Long.MinValue, -1)
    val cum = byScore.withColumn("cum_nn",
      coalesce(sum(col("nn")).over(w), lit(0L)))
    cum.groupBy(col("pos_cls"))
      .agg(sum(col("np") * (lit(2L) * col("cum_nn") + col("nn"))).as("u2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("pos_cls"), col("n_pos"), col("n_neg"), col("u2"),
        (col("u2").cast("double") /
          (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")))
          .as("auc"))
  }

  /** Calibration curve of the NB classifier — the third leg of the eval
    * triad (confusion = accuracy, AUC = ranking, this = probability
    * quality): one-vs-rest scores bucketed into 10 EQUAL-WIDTH bins over
    * the observed score range (equal-width, not equal-count, keeps every
    * boundary an exact integer expression — no quantile estimation in
    * the binning itself), with the per-bin empirical positive rate as
    * ONE IEEE division over exact counts. A well-calibrated scorer shows
    * monotone rates; the fixture's label-independent text shows the flat
    * base rate — both readouts are the point of the query.
    *
    * Scale: scoring is the broadcast-model map pass; the bin aggregate
    * is 10 rows; min/max come from one narrow aggregate broadcast back
    * (bucket = ((score − lo)·10) div (hi − lo + 1), truncating division
    * identical in both engines). */
  def textNbCalibration(s: SparkSession, dir: String): DataFrame =
    nbCalibration(documents(s, dir).select(col("doc_id"), col("lang"), col("text")))

  private[graft] def nbCalibration(docs: DataFrame): DataFrame = {
    val scored = nbScored(docs)
    val pos = scored.agg(min(col("cls")).as("pos_cls"))
    val sc = scored.join(broadcast(pos), col("cls") === col("pos_cls"))
      .select(
        when(col("lang") === col("cls"), lit(1L)).otherwise(lit(0L))
          .as("is_pos"),
        col("score"))
    val rng = sc.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    sc.crossJoin(broadcast(rng))
      .withColumn("bucket",
        expr("((score - lo) * 10L) div (hi - lo + 1L)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("is_pos")).as("n_pos"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .orderBy(col("bucket"))
  }

  /** Support thresholds for [[miningAssocRules]] as percentages of the
    * document count — relative so the same query is meaningful at every
    * SF. Items must appear in ≥ 40 % of docs, pairs in ≥ 25 %. */
  private val ItemSupPct = 40L
  private val PairSupPct = 25L

  /** Frequent-2-itemset / association-rule mining (Apriori level 2) over
    * the token SETS of documents — the market-basket workload on a text
    * corpus: which word pairs co-occur in documents far more often than
    * their independent rates predict. Output per surviving ordered pair
    * (item_a < item_b): doc supports, confidence P(b|a) and lift
    * n·n_ab/(n_a·n_b) (per-row IEEE divisions over exact integer
    * operands — oracle-identical).
    *
    * Scale shape is the Apriori argument itself: candidate pairs are
    * generated ONLY between frequent items (support ≥ 40 % of docs —
    * the downward-closure prune), so the per-document pair explosion is
    * bounded by the frequent-item count F, not vocabulary: the self-join
    * per doc_id emits ≤ C(F,2) rows. The frequent-item relation is a
    * broadcast semi-join (it is at most 100/ItemSupPct · … tiny by
    * construction: at 40 % support at most 2·(corpus tokens / docs)
    * items can qualify), and the one wide shuffle keys on doc_id — at
    * 100 TB this is explode → semi-filter map-side → one doc-keyed
    * shuffle → pair count, with the level-k extension running the same
    * prune per level (k=2 here; the classic trade documented in Agrawal
    * & Srikant's Apriori). */
  def miningAssocRules(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // presence, not multiplicity: market baskets are sets
    val docItem = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("item"))
    val freq = docItem.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_item") * 100 >= col("n_docs") * ItemSupPct)
      .select(col("item"), col("n_item"))
    val filtered = docItem.join(broadcast(freq), Seq("item"))
    val a = filtered.select(col("doc_id"), col("item").as("item_a"),
      col("n_item").as("n_a"))
    val b = filtered.select(col("doc_id"), col("item").as("item_b"),
      col("n_item").as("n_b"))
    a.join(b, Seq("doc_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_ab"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_ab") * 100 >= col("n_docs") * PairSupPct)
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        (col("n_docs").cast("double") * col("n_ab").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Shared oracle CTE: the 5-gram relation (DuckDB list-comprehension
    * spelling of the same slice/join). */
  private val gramsSql =
    s"""w AS (SELECT doc_id, lang, string_split(text, ' ') AS words
       |      FROM documents WHERE len(string_split(text, ' ')) >= $GramN),
       |g AS (SELECT doc_id, lang,
       |        unnest([array_to_string(words[i:i+${GramN - 1}], ' ')
       |                FOR i IN range(1, len(words) - ${GramN - 2})]) AS gram
       |      FROM w)""".stripMargin

  /** 10 BPE rounds as chained CTEs: p<r> picks round r's merge (count
    * DESC, a, b), s<r> applies it via the same padded-space `replace`.
    * Every CTE is MATERIALIZED: each s<r> is referenced twice (by
    * p<r+1> and s<r+1>), so default inlining would expand s0 into 2^10
    * scans of the parquet. */
  private val bpeOracleSql: String = {
    val out = (1 to BpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rank, a || ' ' || b AS pair,
         |  a || b AS merged, n FROM p$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |SELECT * FROM (
       |$out
       |) ORDER BY rank""".stripMargin
  }

  /** Shared training CTEs (w0, s0, p1/s1 … p10/s10) for both BPE
    * oracles — the delimiter-wrapped form (chr(1) ≡ [[BpeDelim]]), so
    * the oracle's single-pass `replace` is the same exact greedy
    * left-to-right merge as the engine's (disjoint occurrences; see
    * [[BpeDelim]]). `D`/`DD` are the single/double delimiter. */
  private def bpeTrainCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT a, b, n FROM (
         |    SELECT t[i] AS a, t[i+1] AS b, CAST(sum(wn) AS BIGINT) AS n
         |    FROM (SELECT string_split(trim(seq, chr(1)),
         |                   (chr(1) || chr(1))) AS t, wn
         |          FROM s${r - 1}),
         |         LATERAL (SELECT unnest(range(1, len(t))) AS i)
         |    GROUP BY 1, 2)
         |  ORDER BY n DESC, a, b LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT replace(seq,
         |    chr(1) || (SELECT a FROM p$r) || chr(1) || chr(1) ||
         |      (SELECT b FROM p$r) || chr(1),
         |    chr(1) || (SELECT a FROM p$r) || (SELECT b FROM p$r) ||
         |      chr(1)) AS seq,
         |    wn
         |  FROM s${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w, count(*) AS wn
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1 AND strpos(w, chr(1)) = 0 GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT chr(1) ||
       |         array_to_string(string_split(w, ''), (chr(1) || chr(1))) ||
       |         chr(1) AS seq,
       |         wn
       |  FROM w0),
       |$rounds""".stripMargin
  }

  /** Encode oracle: replay training, then tokenize the corpus with the
    * learned rules and aggregate per language. */
  private val bpeEncodeSql: String = {
    val encRounds = (1 to BpeRounds).map { r =>
      s"""enc$r AS MATERIALIZED (
         |  SELECT lang, replace(seq,
         |    chr(1) || (SELECT a FROM p$r) || chr(1) || chr(1) ||
         |      (SELECT b FROM p$r) || chr(1),
         |    chr(1) || (SELECT a FROM p$r) || (SELECT b FROM p$r) ||
         |      chr(1)) AS seq
         |  FROM enc${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |enc0 AS MATERIALIZED (
       |  SELECT lang,
       |    chr(1) ||
       |    array_to_string(string_split(w, ''), (chr(1) || chr(1))) ||
       |    chr(1) AS seq
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE length(w) >= 1 AND strpos(w, chr(1)) = 0),
       |$encRounds
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(length(replace(seq, chr(1), ''))) AS BIGINT) AS n_chars,
       |  CAST(sum(len(string_split(trim(seq, chr(1)), chr(1) || chr(1))))
       |    AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(replace(seq, chr(1), ''))) AS DOUBLE) /
       |    CAST(sum(len(string_split(trim(seq, chr(1)), chr(1) || chr(1))))
       |      AS DOUBLE) AS compression
       |FROM enc$BpeRounds GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Shared oracle CTEs mirroring [[nbScored]] — the NB train→predict
    * integer score relation both the confusion matrix and the AUC eval
    * read. */
  private val nbScoredCtes: String =
    s"""tok AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $NbBuckets AS bk
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
       |        FROM documents)),
       |train AS (SELECT * FROM tok WHERE doc_id % 3 <> 0),
       |test AS (SELECT * FROM tok WHERE doc_id % 3 = 0),
       |perclass AS (SELECT bk, lang AS cls, count(*) + 1 AS ct
       |             FROM train GROUP BY 1, 2),
       |raw AS (SELECT bk, count(*) + 1 AS cr FROM train GROUP BY bk),
       |totals AS (SELECT lang AS cls, count(*) + $NbBuckets AS nc
       |           FROM train GROUP BY 1),
       |nr AS (SELECT count(*) + $NbBuckets AS nr FROM train),
       |weights AS (
       |  SELECT r.bk, t.cls,
       |    (1000000 * coalesce(p.ct, 1) * nr.nr) // (r.cr * t.nc) AS w
       |  FROM raw r CROSS JOIN totals t
       |  LEFT JOIN perclass p ON p.bk = r.bk AND p.cls = t.cls, nr),
       |scored AS (
       |  SELECT te.doc_id, te.lang, w.cls,
       |    CAST(sum(w.w) AS BIGINT) AS score
       |  FROM test te JOIN weights w ON w.bk = te.bk
       |  GROUP BY 1, 2, 3)""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("mining_assoc_rules", miningAssocRules _,
      s"""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
         |di AS (
         |  SELECT DISTINCT doc_id, item FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS item
         |    FROM documents)),
         |freq AS (
         |  SELECT item, count(*) AS n_item FROM di GROUP BY item
         |  HAVING count(*) * 100 >= (SELECT n_docs FROM nd) * $ItemSupPct),
         |fi AS (SELECT d.doc_id, d.item, f.n_item
         |       FROM di d JOIN freq f ON f.item = d.item),
         |pairs AS (
         |  SELECT a.item AS item_a, b.item AS item_b,
         |    a.n_item AS n_a, b.n_item AS n_b, count(*) AS n_ab
         |  FROM fi a JOIN fi b ON a.doc_id = b.doc_id AND a.item < b.item
         |  GROUP BY 1, 2, 3, 4
         |  HAVING count(*) * 100 >= (SELECT n_docs FROM nd) * $PairSupPct)
         |SELECT item_a, item_b, n_a, n_b, n_ab,
         |  CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS confidence,
         |  CAST((SELECT n_docs FROM nd) AS DOUBLE) * CAST(n_ab AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS lift
         |FROM pairs ORDER BY item_a, item_b""".stripMargin),
    Declared("text_bpe_merges", textBpeMerges _, bpeOracleSql),
    Declared("text_bpe_encode", textBpeEncode _, bpeEncodeSql),
    Declared("text_nb_classifier", textNbClassifier _,
      s"""WITH $nbScoredCtes,
         |pred AS (
         |  SELECT doc_id, lang AS actual, cls AS predicted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls ASC) AS rn
         |  FROM scored)
         |SELECT actual, predicted, count(*) AS n
         |FROM pred WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin),
    Declared("text_nb_auc", textNbAuc _,
      s"""WITH $nbScoredCtes,
         |pos AS (SELECT min(cls) AS pos_cls FROM scored),
         |sc AS (SELECT pos.pos_cls,
         |         CASE WHEN lang = cls THEN 1 ELSE 0 END AS is_pos, score
         |       FROM scored, pos WHERE cls = pos.pos_cls),
         |byscore AS (
         |  SELECT pos_cls, score, CAST(sum(is_pos) AS BIGINT) AS np,
         |    CAST(count(*) - sum(is_pos) AS BIGINT) AS nn
         |  FROM sc GROUP BY 1, 2),
         |cum AS (
         |  SELECT pos_cls, np, nn,
         |    CAST(coalesce(sum(nn) OVER (ORDER BY score ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_nn
         |  FROM byscore)
         |SELECT pos_cls, CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS u2,
         |  CAST(sum(np * (2 * cum_nn + nn)) AS DOUBLE) /
         |    (2.0 * CAST(sum(np) * sum(nn) AS DOUBLE)) AS auc
         |FROM cum GROUP BY pos_cls""".stripMargin),
    Declared("text_nb_calibration", textNbCalibration _,
      s"""WITH $nbScoredCtes,
         |pos AS (SELECT min(cls) AS pos_cls FROM scored),
         |sc AS (SELECT CASE WHEN lang = cls THEN 1 ELSE 0 END AS is_pos, score
         |       FROM scored, pos WHERE cls = pos.pos_cls),
         |rng AS (SELECT min(score) AS lo, max(score) AS hi FROM sc)
         |SELECT ((score - rng.lo) * 10) // (rng.hi - rng.lo + 1) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(is_pos) AS BIGINT) AS n_pos,
         |  min(score) AS min_score, max(score) AS max_score,
         |  CAST(sum(is_pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
         |FROM sc, rng GROUP BY 1 ORDER BY bucket""".stripMargin),
    Declared("text_repeated_passages", textRepeatedPassages _,
      s"""WITH $gramsSql
         |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |  count(*) AS n
         |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY df DESC, n DESC, gram LIMIT 50""".stripMargin),
    Declared("text_dup_passage_ratio", textDupPassageRatio _,
      s"""WITH $gramsSql,
         |df AS (SELECT gram, count(DISTINCT doc_id) AS gram_df
         |       FROM g GROUP BY gram)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS total_grams,
         |  CAST(sum(CASE WHEN df.gram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_grams,
         |  CAST(sum(CASE WHEN df.gram_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS dup_ratio
         |FROM g JOIN df USING (gram)
         |GROUP BY lang ORDER BY lang""".stripMargin),
    Declared("text_dsir_sample", textDsirSample _,
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |b AS (SELECT doc_id, lang,
         |        ('0x' || substr(md5(t), 1, 8))::BIGINT % $Buckets AS bk
         |      FROM tok),
         |tgt AS (SELECT bk, count(*) + 1 AS ct FROM b WHERE lang = 'en'
         |        GROUP BY bk),
         |raw AS (SELECT bk, count(*) + 1 AS cr FROM b GROUP BY bk),
         |totals AS (
         |  SELECT sum(CASE WHEN lang = 'en'
         |               THEN len(string_split(text, ' ')) ELSE 0 END)
         |           + $Buckets AS nt,
         |         sum(len(string_split(text, ' '))) + $Buckets AS nr
         |  FROM documents),
         |weights AS (
         |  SELECT r.bk,
         |    (1000000 * coalesce(t.ct, 1) * totals.nr)
         |      // (r.cr * totals.nt) AS w
         |  FROM raw r LEFT JOIN tgt t USING (bk), totals)
         |SELECT b.doc_id, any_value(b.lang) AS lang,
         |  CAST(sum(w.w) // count(*) AS BIGINT) AS score
         |FROM b JOIN weights w USING (bk)
         |GROUP BY b.doc_id ORDER BY score DESC, doc_id LIMIT 100""".stripMargin),
    Declared("text_winsorize", textWinsorize _,
      """WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
         |           FROM documents),
         |r AS (SELECT lang, n_chars,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY n_chars, doc_id) - 1 AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM d),
         |b AS (SELECT lang,
         |        min(CASE WHEN rn = (5 * (n - 1)) // 100 THEN n_chars END)
         |          AS lo,
         |        max(CASE WHEN rn = (95 * (n - 1)) // 100 THEN n_chars END)
         |          AS hi
         |      FROM r GROUP BY lang)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(any_value(lo) AS BIGINT) AS lo,
         |  CAST(any_value(hi) AS BIGINT) AS hi,
         |  CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_below,
         |  CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_above,
         |  CAST(sum(greatest(least(n_chars, hi), lo)) AS BIGINT) AS win_sum
         |FROM d JOIN b USING (lang)
         |GROUP BY lang ORDER BY lang""".stripMargin),
  )
}
