package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Declared
import graft.Tables

/** Cost-based calibration of the similarity-stack knobs — a stats-pass
  * router applied to the LSH/banding family: ONE corpus stats pass derives every parameter the scaladocs'
  * corpus-size rules previously left as fixture-pinned constants
  * (reference behavior: the parameter-sizing guidance in the MinHash/LSH
  * literature, e.g. Leskovec–Rajaraman–Ullman ch. 3; the repo's own
  * measured rules in `Dedup.simhashBandedPairs` and
  * `TextAnalysis.textTfidfCosineLshAt` scaladocs).
  *
  * The derivations (all INTEGER arithmetic, so the DuckDB oracle replays
  * them bit-for-bit — see [[ceilLog2Col]]):
  *
  *  - '''SRP planes per table''' (tf-idf LSH): bucket occupancy stays
  *    flat iff bits grow with the corpus — `planes =
  *    clamp(4, 24, ceil(log2(ceil(n_docs / 16))))` for a ~16-doc target
  *    bucket, exactly the `bits ≈ log2(n_docs) − log2(bucket)` rule the
  *    `textTfidfCosineLshAt` scaladoc documents (the r10 probe's manual
  *    16×12 re-pin at 500 k docs is what this automates).
  *  - '''SRP tables''': hold per-pair recall ≥ 0.9 for NEAR-DUP-grade
  *    pairs (cosine ≥ 0.8, collision prob s = 1 − arccos(0.8)/π per
  *    plane): `tables = clamp(4, 64, ceil(ln(0.1) / ln(1 − s^planes)))`.
  *    The float math runs ONCE in Scala ([[srpTablesFor]]) and both the
  *    Spark plan and the oracle consume the resulting integer lookup as
  *    CASE literals — no cross-engine float parity risk.
  *  - '''SimHash signature width''': pigeonhole for hamming ≤ 12 fixes
  *    13 bands; the knob is bits-per-band (`simhashBandedPairs`
  *    scaladoc). Needing more than the 64-bit layout's 4 bits/band
  *    (i.e. `planes > 4`, the same log₂ quantity) routes to the 128-bit
  *    md5 signature (weakest balanced band 9 bits); more than 9 routes
  *    to the 256-bit sha256 signature (`Dedup.dedupSimhash256`, weakest
  *    band 19 bits — holds ~16-doc buckets to ≈ 16·2^19 ≈ 8.4 M docs);
  *    more than 19 routes to the 512-bit doubled-sha256 signature
  *    (`Dedup.dedupSimhash512`, r14 — weakest band 39 bits, capacity
  *    ≈ 16·2^39 ≈ 8.8 T docs). `simhash_saturated` now fires only above
  *    39 bits/band — unreachable while the SRP rule clamps at 24
  *    planes, i.e. the declared ladder COVERS the rule's entire range
  *    (the flag is kept so the rule stays honest if MaxPlanes ever
  *    grows). `Dedup.balancedBands` keeps every band within one bit of
  *    these reported widths, so the capacity model is true of the
  *    layout that actually joins.
  *  - '''df caps''' (hot-shingle cap for the Jaccard posting family,
  *    occurrence cap for the substring-span window): a posting with
  *    df = d contributes d² to the candidate join / hot-partition
  *    volume, so the cap is chosen from a log₂-bucketed df histogram —
  *    the largest power-of-2 boundary whose CUMULATIVE Σ df² stays
  *    within `100 · n_docs` (the same ≤ 100-candidates-per-doc budget
  *    `textSalienceMonitor` enforces), floored at 16 so hot corpora
  *    never cap everything; when the WHOLE histogram fits the budget the
  *    cap is the `UncappedSentinel` — every boundary is admissible, so
  *    "no cap" is the honest answer (r16; the pre-r16 data-max-bucket
  *    value was a cosmetic a sampled pass could not reproduce).
  *    Per-bucket Σ df² is EXACT (summed inside the
  *    bucket), so the choice is deterministic and oracle-replayable.
  *
  * Scale shape: two scans of `documents` (3-shingle distinct sets for
  * the Jaccard-family df; positional 10-grams for the span family),
  * each a map-side-combinable `groupBy(key).count` followed by a
  * ≤ 63-row log₂ histogram; the only window runs on that provably
  * bounded histogram. The final row is a cross join of broadcast 1-row
  * aggregates. Exact verification downstream makes the PARAMETERS
  * output-invariant for the verified pair queries — calibration changes
  * cost, never declared results.
  */
object Calibrate {

  /** Everything one stats pass decides, as a plain value for probe
    * harnesses and calibrated query variants ([[params]]). */
  case class SimilarityParams(
      nDocs: Long, nShingles: Long, nPostings: Long, sumDf2: Long,
      shingleHotDf: Long, nGrams: Long, sumC2: Long, spanGramCap: Long,
      srpPlanes: Int, srpTables: Int,
      simhashBits: Int, simhashBandBits: Int, simhashSaturated: Boolean) {
    def logLine(dir: String): String =
      s"""{"calibrate":{"dir":"$dir","n_docs":$nDocs,""" +
        s""""srp_planes":$srpPlanes,"srp_tables":$srpTables,""" +
        s""""simhash_bits":$simhashBits,"simhash_band_bits":$simhashBandBits,""" +
        s""""simhash_saturated":$simhashSaturated,""" +
        s""""shingle_hot_df":$shingleHotDf,"span_gram_cap":$spanGramCap,""" +
        s""""sum_df2":$sumDf2,"sum_c2":$sumC2}}"""
  }

  /** Per-doc candidate budget — the same 100·n_docs bound
    * `TextAnalysis.textSalienceMonitor` enforces for the exact posting
    * join; reusing the constant keeps "what the guard tolerates" and
    * "what the cap admits" the same quantity. */
  private val CandidatesPerDoc = 100L
  private[graft] val TargetBucketDocs = 16L // MUST stay 2^4 (planesCol shifts by 4)
  private[graft] val MinPlanes = 4
  private[graft] val MaxPlanes = 24
  private val CapFloor = 16L

  /** SRP table count for a given planes-per-table — recall ≥ 0.9 at
    * cosine 0.8 (see object scaladoc). Pure, computed once; consumers
    * embed the resulting integers, never the float math. */
  private[graft] def srpTablesFor(planes: Int): Int = {
    val s = 1.0 - math.acos(0.8) / math.Pi
    val perTable = math.pow(s, planes)
    val t = math.ceil(math.log(1.0 - 0.9) / math.log(1.0 - perTable)).toInt
    math.max(4, math.min(64, t))
  }

  /** ceil(log2(x)) for x ≥ 1 as pure INTEGER column arithmetic that
    * Spark and DuckDB compute identically: `length(bin(x − 1))` — the
    * binary-string length is floor(log2) + 1, and evaluating it at
    * x − 1 turns floor into ceil (x = 1 → bin(0) = "0" → 1, absorbed by
    * the MinPlanes clamp). No float log2 at power-of-2 boundaries. */
  private def ceilLog2Col(x: Column): Column = length(bin(x - 1))

  // ceil(n / 16) as shiftright(n + 15, 4): Column./ on longs is DOUBLE
  // division, and the oracle's `// 16` must be matched exactly-integer.
  // n_docs = 0 is guarded explicitly: the formula would evaluate
  // bin(-1) (64 ones) and clamp to MaxPlanes, spuriously routing an
  // empty corpus to the widest signature with the saturation flag set;
  // the floor MinPlanes matches CalibrateSpec's Scala mirror at n = 0.
  private def planesCol(nDocs: Column): Column =
    when(nDocs <= 0, lit(MinPlanes)).otherwise(
      least(lit(MaxPlanes), greatest(lit(MinPlanes),
        ceilLog2Col(shiftright(nDocs + lit(TargetBucketDocs - 1), 4)))))

  /** The planes → tables lookup as CASE literals (shared shape with the
    * oracle text — both sides consume [[srpTablesFor]]'s integers). */
  private def tablesCaseCol(planes: Column): Column =
    (MinPlanes until MaxPlanes).foldLeft(when(lit(false), lit(0))) {
      case (acc, p) => acc.when(planes === p, lit(srpTablesFor(p)))
    }.otherwise(lit(srpTablesFor(MaxPlanes)))

  private def tablesCaseSql(planesExpr: String): String =
    s"CASE $planesExpr " +
      (MinPlanes until MaxPlanes)
        .map(p => s"WHEN $p THEN ${srpTablesFor(p)}").mkString(" ") +
      s" ELSE ${srpTablesFor(MaxPlanes)} END"

  /** "No cap needed" sentinel (r16): when the ENTIRE histogram's Σ count²
    * fits the budget, every power-of-2 boundary is admissible, so the
    * honest cap is unbounded — emitting the data's incidental top bucket
    * (the pre-r16 behavior) made the value a cosmetic of the corpus's
    * max count, which a sampled estimator cannot (and should not have
    * to) reproduce: a 10 % sample of counts ≤ 15 inflates to multiples
    * of 10 and lands one bucket higher, diverging on a value no
    * consumer uses (the under-budget regime routes to the exact/plain
    * leg, and the containment prefix order is lossless at ANY
    * threshold). With the sentinel, full and sampled passes agree
    * whenever they agree on the budget VERDICT — the quantity sampling
    * actually concentrates on. */
  private[graft] val UncappedSentinel = Long.MaxValue

  /** Largest power-of-2-boundary cap whose cumulative Σ count² stays in
    * budget, from a log₂-bucketed histogram of `cntCol` (≥ 2 only —
    * df = 1 postings generate no pairs). The window is unpartitioned but
    * the histogram is ≤ 63 rows by construction (log₂ buckets of a
    * 64-bit count). Everything-in-budget (incl. an empty histogram) →
    * [[UncappedSentinel]]; nothing-in-budget → the floor. */
  private def capFrom(counts: DataFrame, cntCol: String,
      nDocsDf: DataFrame, outName: String, massCol: Option[String] = None): DataFrame = {
    val mass = massCol.fold(col(cntCol) * col(cntCol))(col)
    val hist = counts.filter(col(cntCol) >= 2)
      .groupBy((length(bin(col(cntCol))) - 1).as("g"))
      .agg(sum(mass).as("v"))
    val w = Window.orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("v")).over(w))
      .crossJoin(broadcast(nDocsDf))
      .agg(coalesce(max(col("cum")), lit(0L)).as("total"),
        max(when(col("cum") <= lit(CandidatesPerDoc) * col("n_docs"),
          col("g"))).as("gsel"),
        coalesce(max(lit(CandidatesPerDoc) * col("n_docs")), lit(0L))
          .as("budget"))
      .select(when(col("total") <= col("budget"), lit(UncappedSentinel))
        .otherwise(greatest(lit(CapFloor),
          coalesce(expr("shiftleft(1L, CAST(gsel + 1 AS INT)) - 1"), lit(0L))))
        .cast("long").as(outName))
  }

  /** The cap rule as DuckDB CTE text — ONE builder for every oracle
    * that replays a cap derivation (calibrate, sampled calibrate,
    * spans-routed, containment-routed), so the rule can never drift
    * between replicas. `cumCte` must expose (g, cum); emits
    * `gselCte` + `capCte` with the cap as `outName`. */
  private def capCtesSql(cumCte: String, gselCte: String, capCte: String,
      outName: String): String =
    s"""$gselCte AS (SELECT coalesce(max(cum), 0) AS total,
       |    max(CASE WHEN cum <= $CandidatesPerDoc * n_docs THEN g END) AS gsel,
       |    coalesce(max($CandidatesPerDoc * n_docs), 0) AS budget
       |  FROM $cumCte, n),
       |$capCte AS (SELECT CAST(CASE WHEN total <= budget THEN $UncappedSentinel
       |    ELSE greatest($CapFloor,
       |      coalesce((CAST(1 AS BIGINT) << (gsel + 1)) - 1, 0)) END AS BIGINT)
       |  AS $outName FROM $gselCte)""".stripMargin

  /** The declared stats+parameters query — one row, every column the
    * oracle recomputes with the same integer rules. */
  def calibrateSimilarity(s: SparkSession, dir: String): DataFrame =
    calibrateFromDocs(Tables.documents(s, dir))

  /** SAMPLED calibration — the full stats pass made sublinear (r15
    * verdict #1: `StressRebuild` measured the two-scan df/occurrence
    * histogram pass at 2.56 → 13.3 → 165.5 s across three decades, the
    * dominant lifecycle cost at every scale). Design:
    *
    *  - '''What never needs sampling''': n_docs is EXACT (one
    *    count-only scan, parquet answers it from footers), so every
    *    rung rule (SRP planes/tables, signature width, MinHash banding)
    *    — pure integer functions of n_docs — is EXACTLY the full
    *    pass's answer by construction. Sampling only estimates the two
    *    df/occurrence HISTOGRAMS behind the caps.
    *  - '''Deterministic hash-sample''': the `text_sample_hash` LCG
    *    coin on doc_id, at a basis of 10 000 (the mod-100 coin can't
    *    express sub-percent rates), so both engines — and every re-run
    *    — select the SAME documents.
    *  - '''Self-sizing rate''': the rate steps down one DECADE per
    *    decade of corpus growth over [[SampleBudgetDocs]] — `bp =
    *    10^(4 − decades_over_budget)`, decades via ceil-division +
    *    decimal-string length (integer-replayable) — so the sampled
    *    doc count stays in [0.9·S, 9·S] at ANY corpus size: detection
    *    cost is FLAT across decades (the probe's readout), not merely
    *    p× linear. At or under the budget the rate is 10 000 bp and
    *    the pass IS the full pass (tiny corpora never sample; the
    *    sf0.01 driver gate runs exact, the sf0.1 corpus runs a real
    *    10 % sample).
    *  - '''Inverse-rate scaling''': a shingle with sampled df s
    *    estimates full df ≈ s·inv (inv = 10000/bp, integer by
    *    construction); histograms are built from the INFLATED counts
    *    and fed through the SAME power-of-2-boundary budget rule
    *    ([[capFrom]]), so at inv = 1 the sampled pass degenerates to
    *    the full pass bit-for-bit. Sampled SINGLETONS are dropped
    *    before inflation (the full rule's df ≥ 2 pair-evidence filter,
    *    applied where the evidence lives — in the sample): a
    *    once-sampled shingle is overwhelmingly a low-df shingle whose
    *    inflated s·inv would manufacture tail mass the corpus doesn't
    *    have. The concentration argument is the usual one — the cap
    *    rules key off the Σdf² TAIL, carried by hot shingles whose
    *    sampled df concentrates at df/inv (Chernoff), and the decision
    *    is quantized to power-of-2 boundaries, so a boundary-preserving
    *    sample preserves the routing; CalibrateSpec pins equality on
    *    the fixtures and a 10× grown corpus, and the planted-boilerplate
    *    probe (r15 verdict #5) measures where it breaks.
    *
    * Output mirrors `calibrate_similarity` (same rung columns, derived
    * from exact n_docs) with the sampled-estimate stats
    * (`sum_df2_est`, `sum_c2_est`), the chosen caps, and the sampling
    * decision itself (`sample_bp`, `n_docs_sampled`) pinned so the
    * driver hash covers the rate rule. */
  def calibrateSimilaritySampled(s: SparkSession, dir: String): DataFrame =
    calibrateSampledFromDocs(Tables.documents(s, dir))

  /** Target sampled-doc count for [[calibrateSimilaritySampled]] — the
    * knee of the rate ladder. 500 is sized to the FIXTURES (the sf0.01
    * driver corpus runs exact, sf0.1 runs a genuine 10 % sample, so the
    * declared query exercises real sampling under the manual sf0.1
    * oracle); production raises it by the MEASURED minimum-rate rule
    * (`StressSampleRate` on the 10× planted-boilerplate corpus,
    * BASELINE.md r16):
    *
    *  - the budget VERDICT (capped vs uncapped) and the hot-item cut
    *    are rate-robust down to ~50 sampled docs — a df = n/10 header
    *    gram's sampled count concentrates at any practical rate, so the
    *    quadratic blow-up the caps exist to remove is always removed;
    *    total evidence collapse (sentinel instead of capped) appeared
    *    only at 5 sampled docs (1 bp at n = 50 k).
    *  - the exact BOUNDARY rung is resolvable only where the boundary
    *    df B exceeds ~8× the inflation inv = 10000/bp (below that, the
    *    mid-tail sits under the df ≥ 2 evidence filter or quantizes a
    *    bucket off): measured span boundary B = 31 at n = 50 k was one
    *    bucket off at 25 % (inv 4) and 3 buckets at 1 % (inv 100),
    *    while the hot family's floor-compressed boundary matched at
    *    every rate. Rule: to pin a boundary at df = B, size
    *    S ≥ 8·n/B (equivalently inv ≤ B/8); when the smallest boundary
    *    that matters is unknown, a hot-item sketch (count the top-k
    *    heavy hitters exactly, sample the tail) is the fallback. A
    *    boundary error is bounded-cost either way: the hot cut always
    *    lands, and an over-admitted rung adds at most one histogram
    *    bucket of candidate mass. */
  private[graft] val SampleBudgetDocs = 500L

  /** Scala mirror of the rate rule, for specs and probes: basis points
    * out of 10 000, one decade down per decade of corpus over budget,
    * floored at 1 bp. The floor bounds the LADDER, not the design: at
    * 1 bp the sample is flat only through ~10 000·S docs (≈ 5 M at the
    * fixture budget; ≈ 1 G at a production S = 100 k) and degrades
    * gracefully to rate-1bp linear past it — still 10 000× cheaper
    * than the full pass; extending the coin's basis beyond 10⁴ (more
    * ladder decades) is mechanical if a corpus ever outgrows it, the
    * same one-line change in the rule, its oracle CTE, and this
    * mirror. */
  private[graft] def sampleBpFor(nDocs: Long): Long = {
    if (nDocs <= SampleBudgetDocs) return 10000L
    val q = (nDocs + SampleBudgetDocs - 1) / SampleBudgetDocs
    math.min(4, q.toString.length - 1) match {
      case 0 => 10000L
      case 1 => 1000L
      case 2 => 100L
      case 3 => 10L
      case _ => 1L
    }
  }

  // the rate rule as a Column over the 1-row n_docs aggregate (the
  // input column is named n_docs by construction; decades over budget =
  // decimal length of ceil(n/S) minus one — pure integer text both
  // engines replay)
  private def sampleBpCol: Column = {
    val k = least(lit(4), length(expr(
      s"cast((n_docs + ${SampleBudgetDocs - 1}) div $SampleBudgetDocs as string)")) - 1)
    when(col("n_docs") <= SampleBudgetDocs, lit(10000L))
      .otherwise(when(k <= 0, 10000L).when(k === 1, 1000L)
        .when(k === 2, 100L).when(k === 3, 10L).otherwise(1L))
  }

  /** `forceBp`: probe-only override of the self-sizing rate (the
    * divergence-onset sweep, r15 verdict #5); the declared query always
    * passes None. Must be a divisor of 10 000. */
  private[graft] def calibrateSampledFromDocs(docs: DataFrame,
      forceBp: Option[Long] = None): DataFrame = {
    forceBp.foreach(bp => require(10000L % bp == 0, s"bp $bp must divide 10000"))
    val nDocsDf = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    // one broadcast 1-row relation carries the whole sampling decision
    val spDf = nDocsDf.select(col("n_docs"),
        forceBp.fold(sampleBpCol)(bp => lit(bp)).as("sample_bp"))
      .select(col("n_docs"), col("sample_bp"),
        expr("10000L div sample_bp").as("inv"))
    val sampled = docs.crossJoin(broadcast(spDf))
      .filter(coinCol < col("sample_bp"))
      .select(col("doc_id"), col("text"))
    sampledStatsFrom(sampled, spDf, nDocsDf)
  }

  /** The LCG coin every sampled/pruned pass shares.
    * Nonnegative-id contract (the text_sample_hash discipline): Spark's
    * pmod and the oracle's sign-preserving % agree only for doc_id ≥ 0
    * and products below 2^63 (doc_id < ~8.3e9) — the documented id
    * contract every LCG-coin query in this engine shares. */
  private def coinCol: Column =
    pmod((col("doc_id") * 1103515245L + 12345L) % 2147483647L, lit(10000L))

  /** The one sampled relation this session holds persisted at a time —
    * each sampled pass used to leak a MEMORY_AND_DISK relation for the
    * session's lifetime (r16 advice: 9 probe calls in StressSampleRate
    * alone); now a new pass releases the previous one, and
    * [[releaseSampled]] lets 1-row consumers drop theirs eagerly. The
    * relation is bounded (≤ 9·[[SampleBudgetDocs]] docs by the rate
    * rule), so the steady-state cache footprint is one tiny relation. */
  private val lastSampled =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  private[graft] def releaseSampled(): Unit =
    Option(lastSampled.getAndSet(null)).foreach(_.unpersist(false))

  /** The shared sampled-stats tail: three aggregates (count, shingle
    * histogram, 10-gram histogram) over an already-coin-filtered sample,
    * with the sampling decision riding in as the 1-row `spDf`
    * (n_docs, sample_bp, inv) — computed from the corpus by the scanning
    * path, passed as literals by the layout-pruned path (the two must
    * stay output-identical; they share one oracle). */
  private def sampledStatsFrom(sampled0: DataFrame, spDf: DataFrame,
      nDocsDf: DataFrame): DataFrame = {
    // persisted: the sample is BOUNDED (≤ 9·SampleBudgetDocs docs by the
    // rate rule), and three consumers read it (count, shingle histogram,
    // gram histogram) — without the persist each re-runs the corpus
    // scan + coin filter, turning the one-scan sampled pass into three
    // corpus scans (the r16 review's finding)
    val sampled = sampled0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Option(lastSampled.getAndSet(sampled)).foreach(_.unpersist(false))
    val nSampledDf =
      sampled.agg(count(lit(1)).cast("long").as("n_docs_sampled"))

    // Jaccard-family histogram on the sample: sampled df ≥ 2 (the pair-
    // evidence filter, pre-inflation), then inflate. The squared mass
    // uses the UNBIASED binomial estimator d̂² = s·inv·(s·inv − inv + 1)
    // (E[s²] = p²d² + p(1−p)d, so the naive (s·inv)² overshoots by
    // d·(inv − 1) per item — enough to flip the budget verdict on a
    // corpus sitting near the boundary); the histogram BUCKET keys off
    // the inflated count s·inv (the point estimate of d). At inv = 1
    // both reduce to the full pass's df² bit-for-bit.
    def inflated(counts: DataFrame, cnt: String): DataFrame =
      counts.filter(col(cnt) >= 2)
        .crossJoin(broadcast(spDf.select(col("inv"))))
        .select((col(cnt) * col("inv")).as(cnt),
          (col(cnt) * col("inv") *
            (col(cnt) * col("inv") - col("inv") + 1)).as("m2"))
    val df3s = sampled
      .select(graft.functions.VectorExpressions
        .wordShingles(col("text"), 3, distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(explode(col("shingles")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).cast("long").as("df"))
    val df3e = inflated(df3s, "df")
    val st3 = df3e.agg(
      coalesce(sum(col("m2")), lit(0L)).cast("long").as("sum_df2_est"))
    val cap3 = capFrom(df3e, "df", nDocsDf, "shingle_hot_df", massCol = Some("m2"))

    val k = 10
    val g10s = sampled
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(explode(graft.functions.VectorExpressions
        .md5GramKeys(col("w"), k, 32)).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).cast("long").as("c"))
    val g10e = inflated(g10s, "c")
    val st10 = g10e.agg(
      coalesce(sum(col("m2")), lit(0L)).cast("long").as("sum_c2_est"))
    val cap10 = capFrom(g10e, "c", nDocsDf, "span_gram_cap", massCol = Some("m2"))

    val planes = planesCol(col("n_docs"))
    spDf
      .crossJoin(broadcast(nSampledDf))
      .crossJoin(broadcast(st3)).crossJoin(broadcast(cap3))
      .crossJoin(broadcast(st10)).crossJoin(broadcast(cap10))
      .select(col("n_docs"), col("n_docs_sampled"), col("sample_bp"),
        col("sum_df2_est"), col("shingle_hot_df"),
        col("sum_c2_est"), col("span_gram_cap"),
        planes.cast("long").as("srp_planes"),
        tablesCaseCol(planes).cast("long").as("srp_tables"),
        when(planes <= 4, 64L).when(planes <= 9, 128L)
          .when(planes <= 19, 256L).otherwise(512L).as("simhash_bits"),
        when(planes <= 4, 4L).when(planes <= 9, 9L)
          .when(planes <= 19, 19L).otherwise(39L).as("simhash_band_bits"),
        (planes > 39).as("simhash_saturated"))
  }

  /** The sampled row as name → value longs, for CalibrateSpec and the
    * StressSampleRate / StressRebuild probes; no route calls it. The
    * 1-row fetch is this caller's ONLY read of the sampled relation, so
    * its persist is released eagerly (probe loops call this dozens of
    * times; without the release each call parks a cached relation until
    * the next pass replaces it). */
  private[graft] def sampledParamsFromDocs(docs: DataFrame,
      forceBp: Option[Long] = None): Map[String, Long] = {
    val r =
      try calibrateSampledFromDocs(docs, forceBp).head()
      finally releaseSampled()
    r.schema.fields.filter(_.dataType ==
        org.apache.spark.sql.types.LongType)
      .map(f => f.name -> r.getLong(r.fieldIndex(f.name))).toMap
  }

  /** Width of one coin-partition block in the pruned layout: coin ∈
    * [0, 10000) → 100 directory partitions of 100 basis points each.
    * The block is the PARTITION-pruning granule (a bp-rate sample reads
    * ⌈bp/100⌉ blocks); WITHIN a block files are sorted by coin, so the
    * residual `coin < bp` filter prunes at ROW-GROUP granularity once
    * files are large enough to span row groups — at production file
    * sizes a 1-bp sample reads ~1 % of block 0's row groups, i.e.
    * ~0.01 % of the corpus. 100 blocks keeps the directory fan-out
    * trivial at any scale while bounding block-level read amplification
    * at max(bp, 100)/10⁴ of the corpus. */
  private[graft] val CoinBlockWidth = 100L

  /** Coin-partitioned corpus LAYOUT — the lever that makes sampled
    * detection's residual corpus scan PRUNABLE (r16 verdict: the coin
    * filter kept ~500 docs but still READ the whole corpus — IO-bound
    * linear, a 100 TB read per detection at scale). The
    * `layout_zorder_events` motion applied to the calibration path:
    * write the corpus once with the LCG coin as a stored column,
    * directory-partitioned by `coin_block = coin div 100` and sorted by
    * coin within partitions, so a bp-rate sample is a
    * partition-pruned + row-group-pruned scan instead of a full one.
    * Layout cost is one full scan + sorted write per corpus snapshot
    * (amortized across every detection, the stored-index economics);
    * the snapshot row count rides in the layout's stamp, so detection
    * never re-counts the corpus — its ONLY corpus IO is the pruned
    * sample read. */
  private[graft] def coinLayout(s: SparkSession, dir: String): DataFrame =
    Indexes.materializedLayout(s, dir, "coinlayout", {
      val n = Tables.documents(s, dir).count()
      Map("n_docs" -> n, "coin_basis" -> 10000L,
        "coin_block_width" -> CoinBlockWidth)
    }) { path =>
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .withColumn("coin", coinCol)
        .withColumn("coin_block",
          (col("coin") / lit(CoinBlockWidth)).cast("long"))
        // partition column leads the sort so the writer's required
        // ordering is met by this one sort (the writeZOrdered pattern);
        // the trailing coin sort is what row-group stats prune on
        .repartition(col("coin_block"))
        .sortWithinPartitions(col("coin_block"), col("coin"))
        .write.mode("overwrite").partitionBy("coin_block").parquet(path)
    }

  /** [[calibrateSimilaritySampled]] served from the coin-partitioned
    * layout: same rate rule, same estimators, same output row, same
    * oracle — but the corpus scan is PRUNED. n_docs comes from the
    * layout's stamp (a local file read — the snapshot contract that
    * makes every stored artifact here serveable), the rate is the Scala
    * mirror of the same rule the scanning path plans as Columns, and
    * both sampling filters are LITERALS at plan time, so Catalyst
    * prunes directory partitions on `coin_block` and parquet row-group
    * stats prune on the stored sorted `coin` (PlanSpec pins the
    * PartitionFilters + PushedFilters). StressRebuild measures the
    * result: detection BYTES READ bounded by max(bp, 100)/10⁴ of the
    * corpus across decades, where the scanning path reads it all. */
  def calibrateSimilaritySampledPruned(s: SparkSession, dir: String): DataFrame = {
    val layout = coinLayout(s, dir)
    val stamp = Indexes.indexStamp(s, dir, "coinlayout")
      .getOrElse(sys.error(s"coin layout for $dir must be stamped at build"))
    val n = stamp("n_docs")
    val bp = sampleBpFor(n)
    val spDf = s.range(1).select(lit(n).as("n_docs"),
      lit(bp).as("sample_bp"), lit(10000L / bp).as("inv"))
    // int literal: partition discovery types coin_block as INT, and a
    // literal of the column's own type keeps the predicate a direct
    // partition filter (no cast wrapping the partition column)
    val sampled = layout
      .filter(col("coin_block") <= lit(((bp - 1) / CoinBlockWidth).toInt))
      .filter(col("coin") < lit(bp))
      .select(col("doc_id"), col("text"))
    sampledStatsFrom(sampled, spDf, s.range(1).select(lit(n).as("n_docs")))
  }

  private[graft] def calibrateFromDocs(docs: DataFrame): DataFrame = {
    val nDocsDf = docs.agg(count(lit(1)).cast("long").as("n_docs"))

    // Jaccard-family relation: per-doc DISTINCT 3-shingle sets (the
    // exact sets dedup_ngram_jaccard banks on), df = containing docs.
    val df3 = docs
      .select(graft.functions.VectorExpressions
        .wordShingles(col("text"), 3, distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(explode(col("shingles")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).cast("long").as("df"))
    // coalesce: sum over an empty relation is NULL (an empty/degenerate
    // corpus must yield a well-typed row, not an NPE in params())
    val st3 = df3.agg(count(lit(1)).cast("long").as("n_shingles"),
      coalesce(sum(col("df")), lit(0L)).cast("long").as("n_postings"),
      coalesce(sum(col("df") * col("df")), lit(0L)).cast("long").as("sum_df2"))
    val cap3 = capFrom(df3, "df", nDocsDf, "shingle_hot_df")

    // Span-family relation: positional 10-gram OCCURRENCE counts (the
    // quantity that sizes spansFromDocs' per-gram window partition).
    val k = 10
    val g10 = docs
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(explode(graft.functions.VectorExpressions
        .md5GramKeys(col("w"), k, 32)).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).cast("long").as("c"))
    val st10 = g10.agg(count(lit(1)).cast("long").as("n_grams"),
      coalesce(sum(col("c") * col("c")), lit(0L)).cast("long").as("sum_c2"))
    val cap10 = capFrom(g10, "c", nDocsDf, "span_gram_cap")

    val planes = planesCol(col("n_docs"))
    nDocsDf
      .crossJoin(broadcast(st3)).crossJoin(broadcast(cap3))
      .crossJoin(broadcast(st10)).crossJoin(broadcast(cap10))
      .select(col("n_docs"), col("n_shingles"), col("n_postings"),
        col("sum_df2"), col("shingle_hot_df"),
        col("n_grams"), col("sum_c2"), col("span_gram_cap"),
        planes.cast("long").as("srp_planes"),
        tablesCaseCol(planes).cast("long").as("srp_tables"),
        when(planes <= 4, 64L).when(planes <= 9, 128L)
          .when(planes <= 19, 256L).otherwise(512L).as("simhash_bits"),
        when(planes <= 4, 4L).when(planes <= 9, 9L)
          .when(planes <= 19, 19L).otherwise(39L).as("simhash_band_bits"),
        (planes > 39).as("simhash_saturated"))
  }

  /** The seam consumers call: one sanctioned 1-row fetch of the stats
    * row (the same shape as the insights engine's cardinality pass and
    * the tf-idf guard pre-flight). */
  def params(s: SparkSession, dir: String): SimilarityParams =
    paramsFromDocs(calibrateFromDocs(Tables.documents(s, dir)))

  /** The calibration row as a STORED artifact — persisted once per
    * (session, corpus snapshot) through the materialized-index seam,
    * exactly like the signature/cell/codebook indexes it parameterizes.
    * First call runs the two-scan stats pass and writes the 1-row
    * parquet; every later consumer (the `_auto` variants, the routed
    * declared queries) pays a 1-row parquet fetch instead of two corpus
    * scans — the production shape: calibrate per snapshot, consume per
    * query. This is also what makes index-staleness checkable:
    * [[currentSimhashParams]] is the "current answer" side of
    * `Indexes.isStale`, compared against the parameters stamped into
    * each index at build time.
    *
    * SNAPSHOT CONTRACT (r14 advice): `dir` must be an IMMUTABLE corpus
    * snapshot — the fixture dirs are, and a production pipeline
    * calibrates per snapshot path, never a mutating table. The stored
    * row itself carries no staleness stamp because under that contract
    * it cannot go stale within a session; [[storedCalibrationIsStale]]
    * is the cheap audit (one count-only scan vs the stored n_docs) a
    * spec or an operator runs when the contract is in doubt — it
    * catches the growth/shrink case, which is exactly the event that
    * moves rungs and caps. */
  private val CalibrationStamp = Map("calibration_rules_version" -> 1L)

  def storedCalibration(s: SparkSession, dir: String): DataFrame =
    // stamped like every stored build (r15 advice); the calibration row
    // is parameterless (it IS the parameters), so the stamp records the
    // derivation-rule version the row was computed under
    Indexes.materializedIndexStamped(s, dir, "calibration",
      CalibrationStamp)(
      calibrateFromDocs(Tables.documents(s, dir)))

  /** Re-derive and re-store the calibration row — the recovery half of
    * the snapshot contract, for the (out-of-contract) case where the
    * files under `dir` actually changed mid-session: production's
    * "snapshot moved" event is a new dir, but an operator who detected
    * drift via [[storedCalibrationIsStale]] recalibrates in place with
    * this. Downstream stamped serves then recover transparently — the
    * refreshed row moves `currentMinhashBanding`/`currentSimhashParams`,
    * and the checked serve (`Indexes.materializedIndexStamped`) rebuilds
    * any stored index whose stamp no longer matches
    * (IndexRefreshSpec drives the full chain across a rung flip). */
  private[graft] def refreshStoredCalibration(s: SparkSession, dir: String): DataFrame =
    Indexes.rebuildIndex(s, dir, "calibration", CalibrationStamp)(
      calibrateFromDocs(Tables.documents(s, dir)))

  /** True iff the corpus at `dir` no longer has the row count the stored
    * calibration was derived from — the immutable-snapshot contract
    * audit (see [[storedCalibration]]). Count-only: one column-pruned
    * scan (parquet answers it from footers), orders cheaper than
    * re-calibrating to compare. */
  private[graft] def storedCalibrationIsStale(s: SparkSession, dir: String): Boolean =
    storedParams(s, dir).nDocs != Tables.documents(s, dir).count()

  /** [[params]] served from the stored snapshot artifact. */
  def storedParams(s: SparkSession, dir: String): SimilarityParams =
    paramsFromDocs(storedCalibration(s, dir))

  /** The calibrator's current signature-rung answer in stamp form — the
    * `current` argument of `Indexes.isStale` / the checked append. */
  private[graft] def currentSimhashParams(p: SimilarityParams): Map[String, Long] =
    Map("simhash_bits" -> p.simhashBits.toLong,
      "simhash_band_bits" -> p.simhashBandBits.toLong)

  private[graft] def paramsFromDocs(calibrated: DataFrame): SimilarityParams = {
    val r = calibrated.head()
    def l(n: String): Long = r.getLong(r.fieldIndex(n))
    SimilarityParams(l("n_docs"), l("n_shingles"), l("n_postings"),
      l("sum_df2"), l("shingle_hot_df"), l("n_grams"), l("sum_c2"),
      l("span_gram_cap"),
      l("srp_planes").toInt, l("srp_tables").toInt,
      l("simhash_bits").toInt, l("simhash_band_bits").toInt,
      r.getBoolean(r.fieldIndex("simhash_saturated")))
  }

  /** Calibrated consumer — the SRP-LSH seam at the auto-chosen
    * (tables, planes), served from [[storedParams]]. Declared queries
    * keep their pinned constants so oracles replay their exact configs;
    * no route calls this. CalibrateSpec checks its pairs are a subset of
    * the exact cosine pairs, and StressScale measures the auto-config. */
  def textTfidfCosineLshAuto(s: SparkSession, dir: String): DataFrame = {
    val p = storedParams(s, dir)
    TextAnalysis.textTfidfCosineLshAt(s, dir, p.srpTables, p.srpPlanes)
  }

  /** DECLARED width-ladder routing — the `text_tfidf_pairs_routed`
    * motion applied to the signature family: the stored calibration's
    * rung choice (a pure integer function of n_docs, so the DuckDB
    * oracle replays the SELECTION itself, then runs the chosen rung's
    * brute force inside a 4-way guarded union — see
    * `Dedup.simhashFeatureCtesGuarded`) picks which banded-hamming
    * parameterization serves the query, and the chosen width is PINNED
    * into the output (`simhash_bits`) so the driver hash covers the
    * routing decision, not just the pair set. On the fixtures the rule
    * lands on the 128-bit rung at both verify scales (500 → planes 5,
    * 5 000 → planes 9); CalibrateSpec proves every other route
    * selectable on synthetic corpora. */
  def dedupSimhashRouted(s: SparkSession, dir: String): DataFrame = {
    val p = storedParams(s, dir)
    val pairs = p.simhashBits match {
      case 64 => Dedup.dedupSimhash(s, dir)
      case 128 => Dedup.dedupSimhash128(s, dir)
      case 256 => Dedup.dedupSimhash256(s, dir)
      case _ => Dedup.dedupSimhash512(s, dir)
    }
    pairs.withColumn("simhash_bits", lit(p.simhashBits.toLong))
  }

  /** Jaccard-family route rule: Σdf² over the 3-shingle posting lists
    * within the 100·n_docs budget → the declared body; over it →
    * the exact-df PPJoin prefix join, whose candidate volume is governed
    * by prefix length, not posting-list size (frequent shingles sort
    * LAST in the rarest-first order and never enter a prefix). The r14
    * planted-boilerplate probe measured WHY this is the route and not
    * the salted df-cap: the salted block-split is result-preserving, so
    * it spreads the C(f,2) hot-shingle pair volume across reducers
    * without shrinking it — a SKEW fix; on a 100×-planted corpus
    * (14 shingles at df 50 k → ~17.5 G candidate intersects) both the
    * plain and salted joins are >20-minute queries while the prefix
    * join's volume stays near-linear. Both routes are lossless, so the
    * declared query keeps ONE oracle.
    *
    * r18 note: `Dedup.dedupNgramJaccard` itself is now the HASH-ordered
    * prefix join (r17 verdict #2), so the two routes differ only in the
    * global order (map-side hash vs exact-df rarest-first, which pays a
    * df join + rank window for tighter prefixes). The route rule keeps
    * its meaning: under heavy posting skew the exact-df order's better
    * candidate selectivity is worth its two extra shuffles. */
  private[graft] def jaccardRoutePlain(p: SimilarityParams): Boolean =
    p.sumDf2 <= CandidatesPerDoc * p.nDocs

  /** Guard-routed Jaccard pairs — completes the calibrator-consumer
    * story: every derived knob family (SRP config, signature rung, span
    * cap, hot-shingle volume) now has a DECLARED routed consumer. The
    * fixture's shingle volume exceeds the budget at both verify scales
    * (Σdf² = 54 106 > 50 000 at sf0.01; 2.79 M > 500 k at sf0.1), so
    * the declared query serves the prefix route there — bit-identical
    * to the plain join by the prefix theorem, which is why one oracle
    * pins both routes. */
  def dedupNgramJaccardRouted(s: SparkSession, dir: String): DataFrame = {
    val p = storedParams(s, dir)
    if (jaccardRoutePlain(p)) Dedup.dedupNgramJaccard(s, dir)
    else Dedup.dedupNgramJaccardPrefix(s, dir)
  }

  /** Span-family route rule: the gram-occurrence join volume Σc² within
    * the 100·n_docs budget → the exact uncapped window; over it → the
    * calibrated `span_gram_cap` drops boilerplate grams before the
    * per-gram window (conservative-correct for removal decisions —
    * `Dedup.spansFromDocs` scaladoc). Exposed for specs and probes. */
  private[graft] def spanRouteUncapped(p: SimilarityParams): Boolean =
    p.sumC2 <= CandidatesPerDoc * p.nDocs

  /** Guard-routed substring spans — the spans family's equivalent of
    * [[dedupSimhashRouted]], closing the r13 verdict's "calibrated cap
    * but no routed declared query" gap: one stored-calibration fetch
    * routes the declared query to the exact uncapped window when the
    * corpus's gram-occurrence volume fits the budget (the fixture does,
    * at both verify scales: Σc² = 24 879 ≤ 50 000 at sf0.01, 247 768 ≤
    * 500 000 at sf0.1) and to the df-capped window on boilerplate
    * corpora (CalibrateSpec plants one and proves the flip; StressScale's
    * planted-boilerplate corpus measures the capped slope).
    *
    * As of r15 the two routes are NOT covered by one exact-route oracle
    * (the r14 advice: the capped window drops grams, so the routes
    * differ and an exact-only oracle would fail — not cover — a
    * boilerplate corpus): the routing decision is oracle-REPLAYED like
    * [[dedupSimhashRouted]]'s — the Σc² budget rule recomputes in a
    * guard CTE, BOTH legs run corpus-scan-guarded (the non-selected leg
    * scans empty), and the chosen route is pinned into the output
    * (`route`) so the driver hash covers the decision itself. */
  def dedupSubstringSpansRouted(s: SparkSession, dir: String): DataFrame = {
    val p = storedParams(s, dir)
    val (spans, route) =
      if (spanRouteUncapped(p)) (Dedup.dedupSubstringSpans(s, dir), "exact")
      else (Dedup.spansFromDocs(Tables.documents(s, dir),
        dfCap = p.spanGramCap), "capped")
    spans.withColumn("route", lit(route))
  }

  /** Calibrated-constant containment pairs — the LAST fixed similarity
    * knob consumed from the stored calibration (r14 verdict #6):
    * `dedup_containment`'s hot-shingle threshold (df > 256, the
    * is-hot-sorts-last prefix order) becomes the calibrator's
    * `shingle_hot_df` — the SAME Σdf²-budget cap the Jaccard family
    * consumes, which is the right quantity here too (a shingle is "hot"
    * for the containment prefix order exactly when its posting list
    * would blow up the candidate join). The prune is LOSSLESS for any
    * threshold (the prefix theorem holds for every fixed global order),
    * so the brute-force oracle is unchanged; the consumed value is
    * pinned into the output (`hot_df`) and the oracle replays its
    * derivation (the cap3 histogram chain), so the driver hash covers
    * the calibration, not just the pair set. */
  def dedupContainmentRouted(s: SparkSession, dir: String): DataFrame = {
    val p = storedParams(s, dir)
    Dedup.containmentPairs(s, dir, hotDf = p.shingleHotDf)
      .withColumn("hot_df", lit(p.shingleHotDf))
  }

  /** CALIBRATED MinHash banding — the last fixed similarity-family
    * config, retired (r15 verdict #2). The (bands, rows) pair comes from
    * the S-curve + corpus size, both in pure integers:
    *
    *  - '''S-curve alignment''': the banding's collision S-curve has its
    *    fixed point at t* = (1/b)^(1/r); the family's declared Jaccard
    *    threshold is 0.5, and t* = 0.5 solves EXACTLY as `b = 2^r` — so
    *    every rung holds collision probability at the threshold constant
    *    (1 − (1 − t^r)^b = 1 − (1 − 1/b)^b → 1 − 1/e) while each step up
    *    in r multiplies a sub-threshold pair's per-band collision odds
    *    j^r by j < 1/2, i.e. the rung ladder buys background-candidate
    *    suppression without moving the threshold.
    *  - '''Corpus size picks the rung''': candidate volume from
    *    background pairs grows with the PAIR count n², so r steps up one
    *    row per 16× corpus growth — `rows = clamp(4, 8,
    *    ceil(ceilLog2(n_docs) / 4))` — which holds per-doc candidate
    *    volume flat for background similarity j ≤ 1/32 (one +1 step
    *    suppresses by 2j ≤ 1/16 = the per-16× growth in pairs-per-doc)
    *    and degrades gracefully above. The clamp floor is the proven
    *    teaching config's r = 4; the ceiling r = 8 (b = 256, 2 048
    *    permutations) caps per-doc signature cost at ~4G docs — past it
    *    a production corpus shards before it re-rungs, the same
    *    saturation posture as `simhash_saturated`.
    *
    * Both rules are integer-replayable (`length(bin(x − 1))` ceil-log2,
    * `(bits + 3) div 4` ceil-division, `1 << r`), so the DuckDB oracle
    * recomputes the SELECTION itself. Oracle contract, stated honestly:
    * exact verification means banding moves RECALL odds, never
    * precision, so equality with the brute-force oracle is
    * probabilistic for near-threshold pairs at any rung (the teaching
    * config's documented position — its ~1e-9 miss odds are quoted at
    * the fixtures' planted similarity, J ≈ 0.98). What the rung ladder
    * adds is strictly favorable: recall is monotone in bands at fixed
    * rows (shared permutation constants — see
    * `Dedup.minhashLshPairsFrom`), so the fixture rung (r = 4, b = 16)
    * generates a strict SUPERSET of the proven 8-band config's
    * candidates, and the brute-force oracle that pins the teaching
    * config pins the routed query a fortiori. */
  private[graft] def minhashRowsFor(nDocs: Long): Int = {
    if (nDocs <= 0) return 4
    val bits =
      if (nDocs == 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(nDocs - 1)
    math.min(8, math.max(4, (bits + 3) / 4))
  }

  /** b = 2^r — the t* = 0.5 S-curve identity (see [[minhashRowsFor]]). */
  private[graft] def minhashBandsFor(rows: Int): Int = 1 << rows

  /** The calibrated banding in stamp form — what the streaming gate's
    * stored `mhbands` index persists and the checked append compares
    * (the `currentSimhashParams` motion for the MinHash family). */
  private[graft] def currentMinhashBanding(p: SimilarityParams): Map[String, Long] = {
    val r = minhashRowsFor(p.nDocs)
    Map("minhash_rows" -> r.toLong, "minhash_bands" -> minhashBandsFor(r).toLong)
  }

  /** DECLARED calibrated-banding MinHash pairs — the
    * [[dedupSimhashRouted]] motion for the Jaccard-LSH family: the
    * stored calibration's n_docs picks (rows, bands), the banded join
    * runs at that config, exact verification pins the pair set to the
    * brute-force oracle at ANY config, and the chosen banding is PINNED
    * into the output (`mh_rows`, `mh_bands`) with its derivation
    * replayed in the oracle — the driver hash covers the decision.
    * Fixture rungs: 500 docs and 5 000 docs both land on (4, 16). */
  def dedupMinhashRouted(s: SparkSession, dir: String): DataFrame = {
    val p = storedParams(s, dir)
    val r = minhashRowsFor(p.nDocs)
    val b = minhashBandsFor(r)
    // served from a STORED index stamped with the calibrated banding —
    // the same materialized-artifact convention as the teaching
    // config's `Indexes.nearDupPairs`, and precisely the artifact the
    // staleness machinery protects: a corpus decade that moves the
    // (rows, bands) rung flips this stamp, and the serve path ENFORCES
    // it (r16 verdict #1) — materializedIndexStamped compares the
    // stored stamp on every serve and takes the rebuild branch on
    // mismatch, so stale-rung pairs can never be served under new-rung
    // literals (IndexRefreshSpec drives the flip end-to-end via
    // refreshStoredCalibration). The pinned routing columns ride
    // OUTSIDE the stored rows (literals over the scan), so the
    // artifact stays pure pair data.
    Indexes.materializedIndexStamped(s, dir, "mhpairs_routed",
        Map("minhash_rows" -> r.toLong, "minhash_bands" -> b.toLong))(
        Dedup.minhashLshPairsFrom(
          Dedup.shingled(Tables.documents(s, dir)), rows = r, bands = b))
      .orderBy(col("a_id"), col("b_id"))
      .withColumn("mh_rows", lit(r.toLong))
      .withColumn("mh_bands", lit(b.toLong))
  }

  /** The n_docs → planes → rung derivation as outer CTEs the routed
    * oracle's guarded legs reference — the SAME integer text as the
    * calibrate_similarity oracle, so the two queries replay one rule. */
  private def rungCtes: String =
    s"""n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |drv AS (SELECT CASE WHEN n_docs <= 0 THEN $MinPlanes
       |    ELSE least($MaxPlanes, greatest($MinPlanes,
       |      length(bin(CAST((n_docs + ${TargetBucketDocs - 1}) // $TargetBucketDocs
       |        - 1 AS BIGINT))))) END AS planes FROM n),
       |rung AS (SELECT CASE WHEN planes <= 4 THEN 64 WHEN planes <= 9 THEN 128
       |    WHEN planes <= 19 THEN 256 ELSE 512 END AS bits FROM drv)""".stripMargin

  /** Full oracle replay of the ROUTING, not just the routed result: the
    * rung CTEs recompute the selection with the same integer arithmetic,
    * each rung's brute-force leg is corpus-scan-guarded on that choice
    * (empty for the three non-selected rungs), and the chosen width is
    * emitted so the driver hash pins the decision itself. */
  private def dedupSimhashRoutedOracle: String = {
    val legs = Seq(64, 128, 256, 512)
      .map(b => s"SELECT a_id, b_id, hamming FROM (\n${Dedup.simhashRungOracle(b)}\n)")
      .mkString("\nUNION ALL\n")
    s"""WITH $rungCtes
       |SELECT a_id, b_id, hamming,
       |  CAST((SELECT bits FROM rung) AS BIGINT) AS simhash_bits
       |FROM ($legs)
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Full oracle replay of the spans ROUTING (r14 advice, medium): the
    * two routes return DIFFERENT results (the capped window drops
    * boilerplate grams before span detection), so unlike the lossless
    * Jaccard routing one exact oracle cannot cover both. Mirror of
    * [[dedupSimhashRoutedOracle]]: the Σc² budget rule recomputes in a
    * guard CTE from the same gram-occurrence relation, the calibrated
    * cap derivation replays the histogram chain, both legs run guarded
    * (each leg's gram feed is WHERE'd on the route flag, so the
    * non-selected leg is empty), and the chosen route is emitted. */
  private def dedupSubstringSpansRoutedOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |  WHERE len(string_split(text, ' ')) >= 10),
       |g AS MATERIALIZED (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         md5(array_to_string(words[i:i+9], ' ')) AS gh
       |  FROM (SELECT doc_id, words,
       |               unnest(range(1, len(words) - 8)) AS i FROM w)),
       |cnt AS MATERIALIZED (
       |  SELECT gh, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY gh),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |st AS (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS sum_c2 FROM cnt),
       |route AS (SELECT sum_c2 <= $CandidatesPerDoc * n_docs AS uncapped FROM st, n),
       |h10 AS (SELECT length(bin(c)) - 1 AS g, sum(c * c) AS v
       |        FROM cnt WHERE c >= 2 GROUP BY 1),
       |c10 AS (SELECT g, sum(v) OVER (ORDER BY g) AS cum FROM h10),
       |${capCtesSql("c10", "gsel", "cap", "span_gram_cap")},
       |hu AS (
       |  SELECT g.doc_id, g.pos FROM g
       |  JOIN (SELECT gh FROM g GROUP BY gh
       |        HAVING count(DISTINCT doc_id) >= 2) du USING (gh)
       |  WHERE (SELECT uncapped FROM route)),
       |gc AS MATERIALIZED (
       |  SELECT g.doc_id, g.pos, g.gh FROM g JOIN cnt USING (gh)
       |  WHERE c <= (SELECT span_gram_cap FROM cap)
       |    AND NOT (SELECT uncapped FROM route)),
       |hc AS (
       |  SELECT gc.doc_id, gc.pos FROM gc
       |  JOIN (SELECT gh FROM gc GROUP BY gh
       |        HAVING count(DISTINCT doc_id) >= 2) dc USING (gh)),
       |h AS (SELECT * FROM hu UNION ALL SELECT * FROM hc),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM h),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
       |    max(pos) - min(pos) + 10 AS n_tokens, count(*) AS n_grams
       |  FROM isl GROUP BY doc_id, grp)
       |SELECT doc_id, span_start, span_end, n_tokens, n_grams,
       |  CASE WHEN (SELECT uncapped FROM route)
       |       THEN 'exact' ELSE 'capped' END AS route
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** DuckDB replay of the full derivation — integer-only (bin-length
    * log₂, cumulative histogram window, CASE lookup from the same
    * [[srpTablesFor]] integers), so the driver hash pins every rule. */
  /** The calibrated-banding oracle: the (rows, bands) derivation replays
    * in integer CTEs (the same ceil-log2 / ceil-div-4 / 1<<r text the
    * engine's Scala mirror computes), the pair set is the SAME
    * brute-force Jaccard body (incl. the ±100-char blocking) that
    * `Dedup.jaccardPairsSql` pins for the teaching config — so the two
    * minhash oracles can never disagree on a pair — and the chosen
    * banding rides the output so the driver hash pins the selection. */
  private def dedupMinhashRoutedOracle: String =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |mh AS (SELECT CASE WHEN n_docs <= 0 THEN 4
      |    ELSE least(8, greatest(4,
      |      (length(bin(CAST(n_docs - 1 AS BIGINT))) + 3) // 4)) END AS mh_rows
      |  FROM n),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, n_chars,
      |    list_distinct([array_to_string(words[i:i+2], ' ')
      |                   FOR i IN range(1, len(words) - 1)]) AS shingles
      |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
      |  WHERE len(words) >= 3)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
      |  CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard,
      |  CAST((SELECT mh_rows FROM mh) AS BIGINT) AS mh_rows,
      |  CAST(CAST(1 AS BIGINT) << (SELECT mh_rows FROM mh) AS BIGINT) AS mh_bands
      |FROM sh a JOIN sh b
      |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 100
      |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  /** DuckDB replay of the SAMPLED pass — the LCG coin, the decade rate
    * rule, the pre-inflation df ≥ 2 filter, the inverse-rate inflation,
    * and the inflated histogram chain are all integer text, so the
    * driver hash pins the sample AND the scaling, not just the row. */
  private def calibrateSampledOracle: String = {
    val S = SampleBudgetDocs
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |sp AS (SELECT n_docs,
       |  CAST(CASE WHEN n_docs <= $S THEN 10000 ELSE
       |    CASE least(4, length(CAST((n_docs + ${S - 1}) // $S AS VARCHAR)) - 1)
       |      WHEN 0 THEN 10000 WHEN 1 THEN 1000 WHEN 2 THEN 100
       |      WHEN 3 THEN 10 ELSE 1 END
       |  END AS BIGINT) AS sample_bp FROM n),
       |spi AS (SELECT n_docs, sample_bp,
       |  CAST(10000 // sample_bp AS BIGINT) AS inv FROM sp),
       |samp AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE ((doc_id * 1103515245 + 12345) % 2147483647) % 10000 <
       |        (SELECT sample_bp FROM spi)),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled FROM samp),
       |sh AS (
       |  SELECT list_distinct([array_to_string(words[i:i+2], ' ')
       |                        FOR i IN range(1, len(words) - 1)]) AS shingles
       |  FROM (SELECT string_split(text, ' ') AS words FROM samp)
       |  WHERE len(words) >= 3),
       |df3s AS (
       |  SELECT shingle, CAST(count(*) AS BIGINT) AS dfs
       |  FROM (SELECT unnest(shingles) AS shingle FROM sh) GROUP BY shingle),
       |df3e AS MATERIALIZED (
       |  SELECT dfs * inv AS df,
       |         dfs * inv * (dfs * inv - inv + 1) AS m2
       |  FROM df3s, spi WHERE dfs >= 2),
       |st3 AS (SELECT CAST(coalesce(sum(m2), 0) AS BIGINT)
       |        AS sum_df2_est FROM df3e),
       |h3 AS (SELECT length(bin(df)) - 1 AS g, sum(m2) AS v
       |       FROM df3e WHERE df >= 2 GROUP BY 1),
       |c3 AS (SELECT g, sum(v) OVER (ORDER BY g) AS cum FROM h3),
       |${capCtesSql("c3", "g3", "cap3", "shingle_hot_df")},
       |w10 AS (SELECT string_split(text, ' ') AS words FROM samp
       |        WHERE len(string_split(text, ' ')) >= 10),
       |g10s AS (
       |  SELECT gh, CAST(count(*) AS BIGINT) AS cs FROM (
       |    SELECT md5(array_to_string(words[i:i+9], ' ')) AS gh
       |    FROM (SELECT words, unnest(range(1, len(words) - 8)) AS i FROM w10))
       |  GROUP BY gh),
       |g10e AS MATERIALIZED (
       |  SELECT cs * inv AS c,
       |         cs * inv * (cs * inv - inv + 1) AS m2
       |  FROM g10s, spi WHERE cs >= 2),
       |st10 AS (SELECT CAST(coalesce(sum(m2), 0) AS BIGINT)
       |         AS sum_c2_est FROM g10e),
       |h10 AS (SELECT length(bin(c)) - 1 AS g, sum(m2) AS v
       |        FROM g10e WHERE c >= 2 GROUP BY 1),
       |c10 AS (SELECT g, sum(v) OVER (ORDER BY g) AS cum FROM h10),
       |${capCtesSql("c10", "gsel10", "cap10", "span_gram_cap")},
       |drv AS (SELECT CASE WHEN n_docs <= 0 THEN $MinPlanes
       |    ELSE least($MaxPlanes, greatest($MinPlanes,
       |      length(bin(CAST((n_docs + ${TargetBucketDocs - 1}) // $TargetBucketDocs
       |        - 1 AS BIGINT))))) END AS planes FROM n)
       |SELECT n_docs, n_docs_sampled, sample_bp, sum_df2_est, shingle_hot_df,
       |  sum_c2_est, span_gram_cap,
       |  CAST(planes AS BIGINT) AS srp_planes,
       |  CAST(${tablesCaseSql("planes")} AS BIGINT) AS srp_tables,
       |  CAST(CASE WHEN planes <= 4 THEN 64 WHEN planes <= 9 THEN 128
       |       WHEN planes <= 19 THEN 256 ELSE 512 END AS BIGINT) AS simhash_bits,
       |  CAST(CASE WHEN planes <= 4 THEN 4 WHEN planes <= 9 THEN 9
       |       WHEN planes <= 19 THEN 19 ELSE 39 END AS BIGINT) AS simhash_band_bits,
       |  planes > 39 AS simhash_saturated
       |FROM spi, ns, st3, cap3, st10, cap10, drv""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("calibrate_similarity", calibrateSimilarity _,
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sh AS (
         |  SELECT list_distinct([array_to_string(words[i:i+2], ' ')
         |                        FOR i IN range(1, len(words) - 1)]) AS shingles
         |  FROM (SELECT string_split(text, ' ') AS words FROM documents)
         |  WHERE len(words) >= 3),
         |df3 AS MATERIALIZED (
         |  SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT unnest(shingles) AS shingle FROM sh) GROUP BY shingle),
         |st3 AS (SELECT CAST(count(*) AS BIGINT) AS n_shingles,
         |               CAST(coalesce(sum(df), 0) AS BIGINT) AS n_postings,
         |               CAST(coalesce(sum(df * df), 0) AS BIGINT) AS sum_df2
         |        FROM df3),
         |h3 AS (SELECT length(bin(df)) - 1 AS g, sum(df * df) AS v
         |       FROM df3 WHERE df >= 2 GROUP BY 1),
         |c3 AS (SELECT g, sum(v) OVER (ORDER BY g) AS cum FROM h3),
         |${capCtesSql("c3", "g3", "cap3", "shingle_hot_df")},
         |w10 AS (SELECT string_split(text, ' ') AS words FROM documents
         |        WHERE len(string_split(text, ' ')) >= 10),
         |g10 AS MATERIALIZED (
         |  SELECT gh, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT md5(array_to_string(words[i:i+9], ' ')) AS gh
         |    FROM (SELECT words, unnest(range(1, len(words) - 8)) AS i FROM w10))
         |  GROUP BY gh),
         |st10 AS (SELECT CAST(count(*) AS BIGINT) AS n_grams,
         |               CAST(coalesce(sum(c * c), 0) AS BIGINT) AS sum_c2 FROM g10),
         |h10 AS (SELECT length(bin(c)) - 1 AS g, sum(c * c) AS v
         |        FROM g10 WHERE c >= 2 GROUP BY 1),
         |c10 AS (SELECT g, sum(v) OVER (ORDER BY g) AS cum FROM h10),
         |${capCtesSql("c10", "gsel10", "cap10", "span_gram_cap")},
         |drv AS (SELECT CASE WHEN n_docs <= 0 THEN $MinPlanes
         |    ELSE least($MaxPlanes, greatest($MinPlanes,
         |      length(bin(CAST((n_docs + ${TargetBucketDocs - 1}) // $TargetBucketDocs
         |        - 1 AS BIGINT))))) END AS planes FROM n)
         |SELECT n_docs, n_shingles, n_postings, sum_df2, shingle_hot_df,
         |  n_grams, sum_c2, span_gram_cap,
         |  CAST(planes AS BIGINT) AS srp_planes,
         |  CAST(${tablesCaseSql("planes")} AS BIGINT) AS srp_tables,
         |  CAST(CASE WHEN planes <= 4 THEN 64 WHEN planes <= 9 THEN 128
         |       WHEN planes <= 19 THEN 256 ELSE 512 END AS BIGINT) AS simhash_bits,
         |  CAST(CASE WHEN planes <= 4 THEN 4 WHEN planes <= 9 THEN 9
         |       WHEN planes <= 19 THEN 19 ELSE 39 END AS BIGINT) AS simhash_band_bits,
         |  planes > 39 AS simhash_saturated
         |FROM n, st3, cap3, st10, cap10, drv""".stripMargin),
    Declared("dedup_simhash_routed", dedupSimhashRouted _, dedupSimhashRoutedOracle),
    Declared("dedup_substring_spans_routed", dedupSubstringSpansRouted _,
      dedupSubstringSpansRoutedOracle),
    // both routes are lossless (prefix theorem), so one brute-force
    // oracle pins whichever the budget rule selects
    Declared("dedup_ngram_jaccard_routed", dedupNgramJaccardRouted _, Dedup.jaccardPairsSql),
    // lossless prune at ANY threshold → the containment brute force is
    // unchanged; the consumed calibrated value rides along, derived by
    // the same histogram chain the calibrate oracle pins
    Declared("dedup_containment_routed", dedupContainmentRouted _,
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(words[i:i+2], ' ')
         |                   FOR i IN range(1, len(words) - 1)]) AS shingles
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
         |  WHERE len(words) >= 3),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |df3 AS (
         |  SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT unnest(shingles) AS shingle FROM sh) GROUP BY shingle),
         |h3 AS (SELECT length(bin(df)) - 1 AS g, sum(df * df) AS v
         |       FROM df3 WHERE df >= 2 GROUP BY 1),
         |c3 AS (SELECT g, sum(v) OVER (ORDER BY g) AS cum FROM h3),
         |${capCtesSql("c3", "g3", "cap3", "hot_df")}
         |SELECT a_id, b_id, containment,
         |  (SELECT hot_df FROM cap3) AS hot_df
         |FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         |    CAST(least(len(a.shingles), len(b.shingles)) AS DOUBLE) AS containment
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE containment >= 0.8 ORDER BY a_id, b_id""".stripMargin),
    Declared("dedup_minhash_routed", dedupMinhashRouted _, dedupMinhashRoutedOracle),
    Declared("calibrate_similarity_sampled", calibrateSimilaritySampled _, calibrateSampledOracle),
    // the pruned variant is output-identical BY CONSTRUCTION (same coin,
    // same rate rule, same estimators — only the scan is pruned and
    // n_docs rides the layout stamp instead of a count), so it shares
    // the sampled oracle verbatim: the driver hash pins that the layout
    // path changed IO, not answers
    Declared("calibrate_similarity_sampled_pruned", calibrateSimilaritySampledPruned _,
      calibrateSampledOracle),
  )
}
