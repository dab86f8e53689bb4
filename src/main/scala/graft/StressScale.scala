package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off scaling probe (not part of the declared suite): synthesizes an
  * S×-scaled corpus from a base sf dir and times the heavy query families
  * at 1× vs S×, so the claimed near-linearity of the bounded-by-
  * construction plans is a MEASURED slope (recorded in BASELINE.md the
  * way StressCube recorded the cube's k-curve), not a plan-shape
  * argument.
  *
  * Scaled-corpus construction (deterministic):
  *  - documents: S copies; copy k > 0 namespaces every token with a `_k`
  *    suffix, so each copy's internal similarity structure (pair sets,
  *    posting lists, df distribution) is IDENTICAL to the base corpus
  *    while cross-copy similarity is exactly zero — the corpus grows S×
  *    at CONSTANT near-dup density, which is the null a scaling probe
  *    wants for the SHINGLE-set dedup family. (Verbatim copies would
  *    grow the identical-pair count quadratically — a different,
  *    degenerate workload.) n_chars is recomputed from the namespaced
  *    text so length-blocking keeps its semantics; keys are re-keyed by
  *    a power-of-10 stride above the table's max key (min 10M), so a
  *    probe's output dir can be fed back as the BASE of a further run
  *    — the third-decade chain (10× of the 100× output = 1000×).
  *  - documents (df-aware variant, `${out}_dfaware`): namespaces ONLY
  *    the SALIENT tokens (df·10 ≤ N on the base corpus). This is the
  *    stationary-df null the TF-IDF family needs: common-word dfs scale
  *    ×S so the RELATIVE df-cap keeps its semantics (a term is salient
  *    at S× iff it was salient at 1×), salient posting lists stay
  *    disjoint per copy, and the TRUE pair set is exactly S disjoint
  *    copies of the base result — linear. Full namespacing is kept as
  *    the ADVERSARIAL case for this family: it freezes absolute dfs
  *    while N grows, the relative cap then admits the ENTIRE vocabulary
  *    (salience collapse), and the true cosine≥t pair set itself becomes
  *    Θ(n²) — a workload degeneracy no correct engine can beat, worth
  *    measuring (it is what vocabulary drift does to relative-df
  *    policies) but not a slope any candidate generator can fix.
  *  - embeddings: S re-keyed copies of the vectors (ADC/cosine scoring
  *    work scales with rows; the probe query set stays vec_id < 8, so
  *    per-query work is the scan, exactly as at 1×).
  *  - orders: S re-keyed copies (profile_columns input; NDVs of the
  *    non-key columns stay constant, row count grows S× — the exact-NDV
  *    aggregate's work is row-bound).
  *
  * Output: one JSON line per (sf, query) with both pass times and the
  * min, then a final ratios line. Two passes per query, min kept — the
  * same steal-robust convention as Bench; pass 1 at the scaled dir also
  * absorbs the stored-index builds (pq codes), so the min reflects the
  * probe-time cost like the declared bench does.
  */
object StressScale {
  private def declared(name: String) = name -> SparkEntry.queries(name)

  /** Declared queries probed as-is, plus the scale-calibrated tf-idf LSH
    * variant (16 tables × 12 planes — bits grow with log(corpus), the
    * production bucket-sizing rule; the declared 8×4 config is
    * fixture-calibrated and too coarse at 500k docs). */
  private val Probes: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame)] = Seq(
    "dedup_ngram_jaccard", "dedup_containment", "dedup_ngram_jaccard_prefix",
    "text_tfidf_cosine", "text_tfidf_cosine_minhash", "similarity_pq_adc",
    "profile_columns", "multimodal_phash_dedup", "text_nb_auc",
    "similarity_pca_gram", "graph_kcore",
    // r11: the substring-span posting join (occurrence-linear by design —
    // the df>=2 cut dedups GRAMS, islands are per-doc windows) and its
    // ~w-x-cheaper winnowing fingerprint sibling (map-only per doc)
    "dedup_substring_spans", "text_winnow_fingerprints")
    .map(declared) :+
    ("text_tfidf_cosine_lsh_16x12" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.TextAnalysis.textTfidfCosineLshAt(s, d, 16, 12))) :+
    // the banded-hamming quadratic's production knob, now the DECLARED
    // media near-dup (CDC chunk features, 128-bit signature → 10-bit
    // bands) — the wall here should stay near-linear where the 64-bit
    // probe bends candidate-bound (BASELINE.md r10)
    ("multimodal_phash_dedup_128" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Multimodal.mediaPhashDedup128(s, d))) :+
    // r12: the substring-dedup pair at production-leaning parameters.
    // Spans at k=50 (Lee et al.'s ExactSubstr BPE width — docs shorter
    // than k drop out; ~69k of 226k k=10 postings survive on this
    // corpus). Winnowing probes the ~2/(w+1) selection density at the
    // largest window the ~54-token fixture docs can fill: (k=10, w=20)
    // — the SAME gram width as the span config, so the fingerprint
    // index is directly comparable to the full posting index; MOSS's
    // (k=50, w=100) emits nothing here because no doc has 100 k=50
    // grams (documents shorter than w+k−1 cannot meet the guarantee
    // floor, so an empty selection is the contract, not a bug).
    ("dedup_substring_spans_k50" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Dedup.spansFromDocs(Tables.documents(s, d), k = 50))) :+
    ("text_winnow_fps_k10_w20" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.TextAnalysis.winnowFromDocs(Tables.documents(s, d), k = 10, w = 20))) :+
    // r13: the AUTO-calibrated SRP-LSH pair query — parameters derived
    // from the corpus stats pass (Calibrate), so the 10x leg runs at
    // the wider auto config the 16x12 probe previously hand-pinned.
    // The probe time INCLUDES the stats pass, like production would.
    ("text_tfidf_cosine_lsh_auto" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Calibrate.textTfidfCosineLshAuto(s, d))) :+
    // r13 second-decade targets (the r12 verdict's probe list): the
    // production 128-bit text signature and the guard-routed pair query
    declared("dedup_simhash128") :+
    declared("text_tfidf_pairs_routed") :+
    // r13: the events family's first scaling probes — user_id is
    // namespaced per copy so distinct users grow Sx at the same day
    // span (the null where exact WAU's 7x-user-set shuffle grows and
    // the HLL partials stay 7 x 4 KB per day: the predicted crossover)
    declared("events_sessionize") :+
    declared("events_dau_wau") :+
    declared("events_dau_wau_hll") :+
    // r13: the span cutter at the CALIBRATED df cap (one stats pass
    // picks the cap, like production; probe time includes it). Pair it
    // with SPARK_GRAFT_SCALE_BOILERPLATE=1, which plants a shared
    // license-header gram across 10% of docs — the hot-partition
    // workload the dfCap knob exists for; the fixture corpus has no
    // boilerplate grams (max 10-gram df 3-4), so without the plant the
    // capped and uncapped walls are indistinguishable by construction.
    ("dedup_substring_spans_auto_cap" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Dedup.spansFromDocs(Tables.documents(s, d),
          dfCap = ops.Calibrate.params(s, d).spanGramCap))) :+
    // r13: the sha256 rung of the signature-width ladder — the config
    // the calibrator picks once the md5 ladder saturates (measured at
    // the 10x probe); its 20-bit bands should hold the slope where
    // 128-bit's 10-bit bands start to bend candidate-bound
    declared("dedup_simhash256") :+
    // the Jaccard posting family at the CALIBRATED hot-shingle cap
    // (completes the consumption story: all three derived knob families
    // have a probe consumer; includes the stats pass like production)
    ("dedup_ngram_jaccard_auto_cap" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Dedup.dedupNgramJaccardCapped(s, d,
          hotDf = ops.Calibrate.params(s, d).shingleHotDf, saltBuckets = 8))) :+
    // the capped span query at a PRE-SUPPLIED cap (31 = what calibration
    // picks on the boilerplate-planted corpus): separates the capped
    // JOIN's cost from the per-query stats pass the _auto_cap probe
    // deliberately includes — production computes params once per corpus
    // snapshot and reuses them across every consumer
    ("dedup_substring_spans_cap31" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Dedup.spansFromDocs(Tables.documents(s, d), dfCap = 31L))) :+
    // r14 (r13 verdict #6): the auto-LSH 100x number decomposed — the
    // SAME SRP config the calibrator picks at 500 k docs (planes 15 /
    // tables 64), PRE-SUPPLIED, so the row separates amortizable
    // calibration from query cost (the spans cap31 motion). Note the
    // _auto probe itself now amortizes too: Calibrate.storedParams
    // persists the calibration on first call, so its p1 includes the
    // stats pass and its p2 is the reuse cost — production's shape.
    ("text_tfidf_cosine_lsh_presup_64x15" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.TextAnalysis.textTfidfCosineLshAt(s, d, 64, 15))) :+
    // r14: the doubled-sha256 rung and the declared routed queries at
    // scale (the routed simhash picks 256 at 100x = 500 k docs — the
    // probe measures the ROUTED production path, stored calibration
    // fetch included)
    declared("dedup_simhash512") :+
    declared("dedup_simhash_routed") :+
    declared("dedup_substring_spans_routed") :+
    declared("dedup_ngram_jaccard_routed") :+
    // r14 (r13 verdict #7): the Jaccard cap's WIN case — run with
    // SPARK_GRAFT_SCALE_BOILERPLATE=1 so the planted header's 14
    // 3-shingles carry df = n/10 (the namespaced null has no hot
    // shingles, so earlier probes measured pure premium); the capped
    // variant must exclude them from the posting join where the
    // uncapped one pays the quadratic (hot volume 14·(n/10)² grows
    // 100× per decade vs the tail's 10×). Cap pre-supplied at 16 —
    // what the calibrator actually picks on the planted corpus (the
    // header's Σdf² alone blows the 100·n budget at every histogram
    // boundary, so the cap lands on the floor) — to separate the
    // stats pass from the capped join, mirroring cap31.
    ("dedup_ngram_jaccard_cap16" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Dedup.dedupNgramJaccardCapped(s, d,
          hotDf = 16L, saltBuckets = 8))) :+
    // the temporal self-join's volume question — run with
    // SPARK_GRAFT_SCALE_EVENTS_TIMEGROW=1, which scales events by
    // SHIFTING each copy's timestamps past the previous copy's span
    // (same users, Sx history per user — how a real user corpus grows)
    // instead of namespacing users. On that null the plain user_id
    // self-join's volume sum n^2 grows Sx^2 per decade, so the guard
    // routes to the banded join, whose per-(user, 5-min bucket) density
    // stays constant (BASELINE.md r15 has the plain-vs-banded slopes).
    declared("events_cooccurrence_routed") :+
    // r15: the calibrated containment threshold priced against the
    // declared fixed-256 line (same lossless pair set; the knob moves
    // which shingles sort last in the prefix order, i.e. candidate
    // volume). Includes the stored-calibration fetch, like production.
    ("dedup_containment_routed" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        ops.Calibrate.dedupContainmentRouted(s, d)))

  /** Probe re-key stride: the smallest power of 10 that is ≥ the
    * historical 10M floor AND strictly above the table's current max
    * key, so S× probe copies never collide and a probe's output dir
    * can be fed back as the base of a further scaling run (the
    * third-decade chain: 100x output ids reach ~1e9, where a fixed 10M
    * stride would collide copy k of id x with copy k' of id x'). One
    * definition for the probe mains (StressScale, StressSampleRate,
    * StressRebuild); `Curation.addedIdStride` is its documented
    * expression-level twin. An empty table (null max) keeps the floor. */
  private[graft] def rekeyStride(df: DataFrame, key: String): Long = {
    val row = df.agg(max(col(key)).cast("long")).head()
    val maxId = if (row.isNullAt(0)) 0L else row.getLong(0)
    var s = 10000000L
    while (s <= maxId) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scale = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "/tmp/graft_scale"
    // optional probe subset (comma-separated names), for re-running one
    // family without paying the full sweep
    val probes = if (args.length > 3) {
      val want = args(3).split(",").map(_.trim).toSet
      Probes.filter(p => want.contains(p._1))
    } else Probes
    val cpus = GraftSession.cpus()
    val spark = GraftSession.local(cpus)

    def copiesWith(df: DataFrame, stride: Long)(
        rekey: (DataFrame, Int, Long) => DataFrame): DataFrame =
      (0 until scale).map(k => if (k == 0) df else rekey(df, k, stride))
        .reduce(_ unionByName _)

    // Only build the scaled tables the selected probes read — at 100x
    // (the second-decade run) the unconditional embeddings/orders/
    // df-aware rewrites would dominate the wall for a documents-only
    // probe subset.
    val names = probes.map(_._1).toSet
    val needEmb = names.exists(n => n.startsWith("similarity_"))
    val needOrders = names.contains("profile_columns")
    val needDfaware = names.exists(_.startsWith("text_tfidf"))
    val needEvents = names.exists(_.startsWith("events_"))
    // documents feed every probe family EXCEPT the three above (events,
    // orders-profiling, embedding-only similarity) — and so do the
    // text/similarity pre-flight passes (salience monitor, tfidf route,
    // calibrate lines), which scan the scaled documents and would
    // otherwise cost several full passes on a corpus no selected probe
    // reads (e.g. an events-only 100x run)
    val docsFree = Set("profile_columns", "similarity_pq_adc",
      "similarity_pca_gram")
    val needDocs = names.exists(n =>
      !n.startsWith("events_") && !docsFree.contains(n))

    // SPARK_GRAFT_SCALE_BOILERPLATE=1: prepend a FIXED 16-token header
    // to every 10th doc in every copy, NOT namespaced — its internal
    // 10-grams then have df = n_docs/10 (growing with the corpus), the
    // exact hot-partition shape the span cutter's dfCap knob targets.
    val plantBoiler =
      sys.env.get("SPARK_GRAFT_SCALE_BOILERPLATE").contains("1")
    val header = (1 to 16).map(i => s"bplic$i").mkString(" ")
    def withBoilerplate(d: DataFrame): DataFrame =
      if (!plantBoiler) d
      else d.withColumn("text",
          when(pmod(col("doc_id"), lit(10L)) === 0,
            concat(lit(header), lit(" "), col("text")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))

    lazy val docs = spark.read.parquet(s"$base/documents.parquet")
    lazy val docStride = rekeyStride(docs, "doc_id")
    if (needDocs) {
      withBoilerplate(copiesWith(docs, docStride) { (d, k, stride) =>
        d.select(
          (col("doc_id") + lit(k * stride)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_$k"))), " ").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }).write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    // df-aware variant (scaladoc above): namespace only the base-salient
    // tokens. The salient vocabulary is df ≤ N/10 BY CONSTRUCTION of the
    // df-cap, and collecting it here is probe-harness convenience (at
    // real scale this rewrite is a broadcast join on exploded tokens);
    // lookup is a sorted-array binary search via array_position on a
    // literal — fine at probe vocabulary sizes.
    if (needDfaware) {
      val nDocs = docs.count()
      val salient = docs
        .select(explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy("term").count()
        .filter(col("count") * 10 <= nDocs)
        .select("term").collect().map(_.getString(0)).sorted
      val salientCol = lit(salient)
      copiesWith(docs, docStride) { (d, k, stride) =>
        d.select(
          (col("doc_id") + lit(k * stride)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => when(array_contains(salientCol, t), concat(t, lit(s"_$k")))
              .otherwise(t)), " ").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.write.mode("overwrite").parquet(s"${out}_dfaware/documents.parquet")
    }

    if (needEmb) {
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      copiesWith(emb, rekeyStride(emb, "vec_id")) { (d, k, stride) =>
        d.select((col("vec_id") + lit(k * stride)).as("vec_id"),
          col("embedding"), col("label"))
      }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (needOrders) {
      val orders = spark.read.parquet(s"$base/orders.parquet")
      copiesWith(orders, rekeyStride(orders, "o_orderkey")) { (d, k, stride) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(k * stride))
      }.write.mode("overwrite").parquet(s"$out/orders.parquet")
    }

    if (needEvents) {
      // Default null — user_id namespaced per copy: Sx distinct users
      // over the same day span (see the events probes' comment in
      // Probes). The ts column is copied verbatim, so whatever physical
      // type the base dir carries (TIMESTAMP(NANOS)-as-long under this
      // session's nanosAsLong, or native micros) round-trips unchanged
      // and Tables.normalizeTs handles the scaled dir identically.
      //
      // SPARK_GRAFT_SCALE_EVENTS_TIMEGROW=1 — the temporal-growth null:
      // SAME users, each copy's timestamps shifted one whole span + 1 h
      // past the previous copy's, so per-user history grows Sx over an
      // Sx time range at constant per-bucket density (the self-join
      // probes' comment in Probes). Shifting needs ts arithmetic, so
      // this leg normalizes ts to TimestampType first (the scaled file
      // then carries native micros — normalizeTs passes it through).
      val timeGrow =
        sys.env.get("SPARK_GRAFT_SCALE_EVENTS_TIMEGROW").contains("1")
      val ev0 = spark.read.parquet(s"$base/events.parquet")
      val evStride = math.max(rekeyStride(ev0, "event_id"),
        rekeyStride(ev0, "user_id"))
      if (timeGrow) {
        val ev = Tables.normalizeTs(ev0)
        val span = ev.agg(
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))) +
            3600000000L).as("span")).head().getLong(0)
        copiesWith(ev, evStride) { (d, k, stride) =>
          d.withColumn("event_id", col("event_id") + lit(k * stride))
            .withColumn("ts",
              timestamp_micros(unix_micros(col("ts")) + lit(k * span)))
        }.write.mode("overwrite").parquet(s"$out/events.parquet")
      } else copiesWith(ev0, evStride) { (d, k, stride) =>
        d.withColumn("event_id", col("event_id") + lit(k * stride))
          .withColumn("user_id", col("user_id") + lit(k * stride))
      }.write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    def fmt(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    // pre-flight the salient-posting-volume guard on each scaled corpus
    // (the production gate before any exact tf-idf pair query): on the
    // full-namespace null the relative df-cap admits the whole
    // vocabulary and the guard FIRES; on the df-aware null it passes
    // text/similarity pre-flights scan the (scaled) documents — skipped
    // entirely when no selected probe reads them (see needDocs above)
    val scaledDirs =
      (if (needDocs) Seq(out) else Nil) ++
        (if (needDfaware) Seq(s"${out}_dfaware") else Nil)
    for (d <- scaledDirs) {
      val row = ops.TextAnalysis.textSalienceMonitor(spark, d)
        .filter(col("source") === "__all__").head()
      val ok = row.getBoolean(row.fieldIndex("guard_ok"))
      val note = if (ok) "exact pair join admitted"
        else "guard would have fired: route to LSH, skip exact pair join"
      println(s"""{"salience_guard":{"dir":"$d","n_docs":${row.getLong(1)},""" +
        s""""join_volume":${row.getLong(4)},"guard_ok":$ok,"note":"$note"}}""")
    }
    // route probe for the declared guard-routed pair query
    // (text_tfidf_pairs_routed): the route its pre-flight takes on each
    // null must agree with the monitor line above — exact on the
    // stationary (df-aware) corpus, LSH on the full-namespace drift null
    for (d <- (if (needDocs) Seq(base) else Nil) ++ scaledDirs) {
      val route =
        if (ops.TextAnalysis.tfidfRouteIsExact(spark, d)) "exact" else "lsh"
      println(s"""{"tfidf_route":{"dir":"$d","route":"$route"}}""")
    }
    // cost-based calibration at 1x vs Sx (the insights `route=` motion
    // for the similarity stack): the chosen SRP planes/tables and
    // simhash width must track the log-n bucket rule across the decade,
    // while the df caps stay put on the constant-density namespaced null
    // (per-copy df distribution and the 100*n budget both scale Sx).
    for (d <- (if (needDocs) Seq(base) else Nil) ++ scaledDirs) {
      println(ops.Calibrate.params(spark, d).logLine(d))
    }
    // r15 verdict #6: the third-decade banded-join step measured
    // 16x/decade with the overage attributed to ~380 MB/partition spill
    // at the session's fixed cpus-count shuffle partitions — the thing
    // cluster jobs size from input splits. Apply the same rule locally
    // for the self-join probes: partitions from the SHUFFLED volume —
    // the banded probe side is the 3x-exploded relation, so size from
    // 3x input rows at ~170 k rows (≈ 60 MB) per shuffle partition,
    // floored at the core count, capped at 4096. Scoped to the events
    // self-join family — every other probe keeps the session default
    // so its cross-round numbers stay comparable.
    val partitionsCache = scala.collection.mutable.Map[String, Int]()
    def shufflePartitionsFor(name: String, dir: String): Int =
      if (!name.startsWith("events_cooccurrence")) cpus
      else partitionsCache.getOrElseUpdate(dir, {
        val rows = spark.read.parquet(s"$dir/events.parquet").count()
        math.max(cpus, math.min(4096, (3 * rows / 500000L).toInt + 1))
      })
    def time(name: String,
        q: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, dir: String): Double = {
      spark.catalog.clearCache()
      val parts = shufflePartitionsFor(name, dir)
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val t0 = System.nanoTime()
        q(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    }
    // warm up codegen/classloading before the first timed query
    spark.range(1000000).selectExpr("sum(id)").collect()
    try time(probes.head._1, probes.head._2, base) catch { case _: Throwable => }

    // tf-idf probes run against the stationary-df (df-aware) corpus —
    // the meaningful null for a relative-df-cap operator; everything
    // else against the fully-namespaced one (constant near-dup density).
    def scaledDir(name: String): String =
      if (name.startsWith("text_tfidf")) s"${out}_dfaware" else out
    val mins = for (leg <- Seq("base", "scaled"); (name, q) <- probes) yield {
      val dir = if (leg == "base") base else scaledDir(name)
      val p1 = time(name, q, dir)
      val p2 = time(name, q, dir)
      val m = math.min(p1, p2)
      println(s"""{"probe":"$name","dir":"$dir","p1":${fmt(p1)},"p2":${fmt(p2)},"min":${fmt(m)}}""")
      (name, leg, m)
    }
    val at1 = mins.filter(_._2 == "base").map(t => t._1 -> t._3).toMap
    val atS = mins.filter(_._2 == "scaled").map(t => t._1 -> t._3).toMap
    val ratios = probes.map(_._1).map(n =>
        s""""$n":{"t1":${fmt(at1(n))},"tS":${fmt(atS(n))},"ratio":${fmt(atS(n) / at1(n))}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","scale":$scale,"base":"$base","ratios":$ratios}""")
    spark.stop()
  }
}
