package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.Tables._

/** Deduplication operators over the `documents` table — the reference has
  * none (SURVEY.md §2.2 "Distinct / dedup: Absent"); these are the
  * LLM-data-pipeline extensions mandated by BASELINE.json.
  *
  * Scale design (100 TB): exact dedup is a single hash-aggregate shuffle
  * on the dedup key. Pairwise similarity is never materialized as a full
  * cross join — `dedupNgramJaccard` is the exact baseline (hash-ordered
  * prefix join since r18), and
  * `dedupMinhashLsh` is the scale path: shingle → minhash signature →
  * band buckets → shuffle join on (band, bucket) → exact verification of
  * the (tiny) candidate set only. With b=8 bands × r=4 rows, a pair at
  * Jaccard 0.98 is missed with probability (1−0.98⁴)⁸ ≈ 1e-9, so the
  * verified LSH output equals the brute-force pair set — both share one
  * DuckDB oracle.
  */
object Dedup {

  /** Jaccard threshold of the exact n-gram pair family: the posting
    * join, both prefix joins and the verified LSH legs. */
  private val JaccardT = 0.5
  /** Their size-ratio prune `n_a <= n_b * SizeBand`: J(A,B) ≤ min/max,
    * so J ≥ t implies max ≤ min/t, and the prune is lossless only while
    * SizeBand ≥ 1/t. An Int, so the join predicate stays integer. */
  private val SizeBand = 2
  require(SizeBand * JaccardT >= 1.0,
    s"size band $SizeBand drops true pairs at Jaccard threshold $JaccardT")

  /** Exact dedup: one group per distinct text, keeper = min doc_id.
    * Single hash-aggregate shuffle on the text (at scale: on a text
    * digest — grouping by md5 keeps shuffle rows narrow). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Distinct 3-word shingles per document. Documents with fewer than 3
    * words are excluded BEFORE the sequence is built (sequence(0, -1)
    * descends and slice() then throws at runtime) — mirroring the
    * oracle's `WHERE len(words) >= 3` guard. */
  private[graft] def shingled(df: DataFrame): DataFrame =
    df.filter(size(split(col("text"), " ")) >= 3)
      // codegen'd one-pass shingler (≡ array_distinct ∘ transform ∘
      // slice HOF pipeline — equivalence pinned in VectorExpressionsSpec;
      // the HOF form dispatched an interpreted lambda per word position)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.VectorExpressions
          .wordShingles(col("text"), 3, distinct = true).as("shingles"))

  /** Exact n-gram-Jaccard near-dup pairs. Since r18 the declared body is
    * the HASH-ORDERED PREFIX join (r17 verdict #2 — the plain posting
    * join was the slowest bench line): the same map-side
    * (is_hot, xxhash64, value) global order, prefix extraction,
    * PPJoin positional filter and two-stage hashed/exact verify that
    * [[dedupContainment]] runs, instantiated at the symmetric Jaccard
    * threshold. Result-identical to the inverted-index posting join —
    * the prefix theorem is lossless at any fixed global order, every
    * emitted pair is exact-verified on the shingle strings, and
    * DedupSpec pins this == capped posting join == df-exact prefix ==
    * verified MinHash, all against the shared brute-force DuckDB
    * oracle.
    *
    * Why this displaces the posting join as the declared shape: the
    * posting join materializes a row per SHARED SHINGLE per pair
    * (Σ_s C(df_s, 2) rows through the pair aggregate — quadratic in
    * posting-list length; the salted variant only SPREADS that volume,
    * [[dedupNgramJaccardCapped]] keeps it for StressScale's skew
    * probes), while the prefix join materializes a row only per shared
    * PREFIX key per pair, with hot shingles excluded from prefixes
    * entirely and the positional filter pruning deep matches. Measured
    * at sf0.1: 2.42 s → 1.17 s isolated (2.96 s → ~1.2 s on the
    * driver's r17 line). */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardHashPrefix(s, dir, hotDf = 256L)

  /** The hash-ordered prefix body at any hot-df threshold — the
    * symmetric-Jaccard sibling of [[containmentPairs]]. */
  private[graft] def ngramJaccardHashPrefix(s: SparkSession, dir: String,
      hotDf: Long): DataFrame = {
    val t = JaccardT
    val sh = shingled(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex0 = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // hot set: one linear df aggregate, collapsed to a single broadcast
    // array row (the containmentPairs pattern — the exploded index is
    // never shuffled before the candidate join)
    val hotShingles = ex0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDf)
      .agg(collect_list(col("shingle")).as("hot"))
    val keyed = sh.crossJoin(broadcast(hotShingles))
      .select(col("doc_id"), col("n_chars"), col("shingles"),
        graft.functions.VectorExpressions
          .hashOrderKeys(col("shingles"), col("hot")).as("keys"))
      .withColumn("n_sh", size(col("keys")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = keyed.select(col("doc_id"), col("n_chars"), col("n_sh"),
      posexplode(col("keys")).as(Seq("pos", "hk")))
    // symmetric prefix: the first |S| − ceil(t·|S|) + 1 keys of BOTH
    // sides (pos is 0-based); J ≥ t pairs have intersecting prefixes
    // under ANY fixed global order (prefix theorem), so the candidate
    // set is lossless
    val prefix = ex.filter(
      col("pos") < col("n_sh") - ceil(col("n_sh") * t) + 1)
    // overlap requirement J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|); the PPJoin
    // positional ubound at a shared key with 0-based positions (i, j)
    // is min(|A|−i, |B|−j) — a true pair always survives via its FIRST
    // common element (inside both prefixes by the theorem), deeper
    // matches are pruned in the join condition. Length-band and
    // size-ratio prunes as in the posting join (SizeBand).
    val need = (col("a.n_sh") + col("b.n_sh")) * lit(t / (1.0 + t))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.hk") === col("b.hk") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= lit(100) &&
          col("a.n_sh") <= col("b.n_sh") * SizeBand &&
          col("b.n_sh") <= col("a.n_sh") * SizeBand &&
          least(col("a.n_sh") - col("a.pos"), col("b.n_sh") - col("b.pos"))
            .cast("double") >= need)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // two-stage verify (the containmentPairs pattern): codegen'd hashed
    // multiset count (≥ the exact intersection — lossless) prunes, the
    // exact string intersect/union computes the emitted jaccard
    candidates
      .join(keyed.select(col("doc_id").as("a_id"), col("keys").as("a_hk"),
        col("shingles").as("a_sh")), "a_id")
      .join(keyed.select(col("doc_id").as("b_id"), col("keys").as("b_hk"),
        col("shingles").as("b_sh")), "b_id")
      .filter(graft.functions.VectorExpressions
        .longIntersectCount(col("a_hk"), col("b_hk")).cast("double") >=
        (size(col("a_sh")) + size(col("b_sh"))) * lit(t / (1.0 + t)))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= t)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Result-identical variant of the inverted-index join with a HOT-
    * SHINGLE document-frequency cap: a shingle appearing in f documents
    * yields C(f,2) join rows, so one viral shingle at corpus scale is one
    * straggler reducer. Mitigation (result-preserving — the oracle is
    * shared): compute per-shingle df in one linear shuffle, broadcast the
    * (tiny) list of shingles with df > hotDf, and route their posting
    * lists through a BLOCK-SPLIT self-join — the left side replicates
    * each (shingle, doc) entry once per target block, the right side
    * keys by hash(doc_id) % saltBuckets, so every pair still materializes
    * exactly once but the C(f,2) work spreads over saltBuckets reducers
    * (the same two-phase trick as `Skew.saltedAgg`, applied to pair
    * generation). Cold shingles join exactly as before; the union feeds
    * one pair-count aggregate, so |A∩B| is unchanged. No route calls it:
    * DedupSpec pins it equal to the plain join, and StressScale's
    * df-cap probes measure it as the candidate route for hot shingles. */
  def dedupNgramJaccardCapped(s: SparkSession, dir: String, hotDf: Long,
      saltBuckets: Int): DataFrame = {
    // the exploded index is referenced by the df pass, both cold join
    // sides, and both hot join sides — materialize it once (it IS the
    // inverted index; unpersisted, the interpreted-HOF shingling subtree
    // re-evaluates per reference, ~5×)
    val sh = shingled(documents(s, dir))
      .select(col("doc_id"), col("n_chars"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotShingles = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDf).select(col("shingle"))
    val cold = sh.join(broadcast(hotShingles), Seq("shingle"), "left_anti")
    val hot = sh.join(broadcast(hotShingles), Seq("shingle"), "left_semi")
    // size-ratio bound (SizeBand): prunes pairs pre-aggregation without
    // changing the result set — the oracle is unchanged
    def joinPairs(a: DataFrame, b: DataFrame, extra: Column): DataFrame =
      a.as("a").join(b.as("b"),
        col("a.shingle") === col("b.shingle") && extra &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= lit(100) &&
          col("a.n_sh") <= col("b.n_sh") * SizeBand &&
          col("b.n_sh") <= col("a.n_sh") * SizeBand)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.n_sh").as("a_n"), col("b.n_sh").as("b_n"))
    val coldPairs = joinPairs(cold, cold, lit(true))
    val hotL = hot.withColumn("blk",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    val hotR = hot.withColumn("blk",
      pmod(xxhash64(col("doc_id")), lit(saltBuckets.toLong)))
    val hotPairs = joinPairs(hotL, hotR, col("a.blk") === col("b.blk"))
    val inter = coldPairs.unionByName(hotPairs)
      .groupBy(col("a_id"), col("b_id"), col("a_n"), col("b_n"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .select(col("a_id"), col("b_id"),
        (col("n_inter").cast("double") /
          (col("a_n") + col("b_n") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (PPJoin-style): order each
    * document's shingles rarest-first (global document frequency, then
    * value) and join only on each side's prefix of length
    * |S| − ceil(t·|S|) + 1. Theorem: J(A,B) ≥ t implies the prefixes
    * intersect, so the candidate set is lossless; frequent shingles (the
    * ones generating the quadratic pair blow-up) never enter the join.
    * Candidates are then verified with the exact intersection count.
    * Same result set (and oracle) as `dedupNgramJaccard`; far fewer
    * pair-rows through the shuffle when shingle df is skewed. */
  def dedupNgramJaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    val t = JaccardT
    val sh = shingled(documents(s, dir))
      // 8-byte key arrays ride the persisted index for the hashed
      // PRE-verify below (hashing only merges elements, so the hashed
      // intersection count is ≥ the exact one — filtering on it is
      // lossless and the exact string verify runs over survivors only)
      .withColumn("hks", graft.functions.VectorExpressions
        .xxhashModArray(col("shingles"), 2147483647L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("doc_id"), col("n_chars"),
      size(col("shingles")).as("n_sh"), explode(col("shingles")).as("shingle"))
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("shingle").asc)
    // both sides of the candidate self-join read the prefix relation —
    // materialize it so the df-join + rank window run once, not twice
    val prefix = ex.join(dfreq, "shingle")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("n_sh") - ceil(col("n_sh") * t) + 1)
      .select(col("doc_id"), col("n_chars"), col("n_sh"), col("shingle"), col("rnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|) — the positional (PPJoin
    // ubound) filter: common shingles appear in the same relative order
    // on both sides (one global df-rarest-first order), so the pair's
    // FIRST common shingle at ranks (i, j) bounds the overlap by
    // min(|A|−i, |B|−j) + 1; a true pair always survives via that
    // first-common row (which the prefix theorem guarantees is inside
    // both prefixes), and every deeper match is pruned in the join
    // condition before the pair reaches dropDuplicates.
    val need = (col("a.n_sh") + col("b.n_sh")) * lit(t / (1.0 + t))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= lit(100) &&
          col("a.n_sh") <= col("b.n_sh") * SizeBand &&
          col("b.n_sh") <= col("a.n_sh") * SizeBand &&
          (least(col("a.n_sh") - col("a.rnk"), col("b.n_sh") - col("b.rnk")) + 1)
            .cast("double") >= need)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    candidates
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh"),
        col("hks").as("a_hk")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh"),
        col("hks").as("b_hk")), "b_id")
      // hashed pre-verify: same J-threshold inequality over the 8-byte
      // key count (≥ exact count → lossless); exact strings after
      .filter(graft.functions.VectorExpressions
        .longIntersectCount(col("a_hk"), col("b_hk")).cast("double") >=
        (size(col("a_sh")) + size(col("b_sh"))) * lit(t / (1.0 + t)))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= t)
      .orderBy(col("a_id"), col("b_id"))
  }

  private val MinhashPerms = 32
  private val Bands = 8 // 4 rows per band

  /** The MinHash band index's frozen TEACHING parameters in stamp form —
    * what the `pairs`/`labels` stored indexes persist beside their
    * artifacts. The declared `dedup_minhash_lsh` keeps this fixed 8×4
    * config (its oracle pins the exact pair set, which is banding-
    * invariant by verification — the config is pedagogy, not policy);
    * the CALIBRATED banding lives in `Calibrate.minhashRowsFor` /
    * `minhashBandsFor` and serves `dedup_minhash_routed` and the
    * streaming gate's stored `mhbands` index (r15 verdict #2 — the last
    * fixed similarity-family config, retired). */
  private[graft] def minhashIndexParams: Map[String, Long] =
    Map("minhash_perms" -> MinhashPerms.toLong, "bands" -> Bands.toLong)
  private val P = 2147483647L // 2^31 − 1; keeps a*h+b < 2^63 (ANSI-safe)

  /** MinHash + LSH near-dup pairs — the scale path. Signature: 32
    * universal-hash permutations of xxhash64 shingle hashes; 8 bands of 4
    * rows each; candidates = pairs sharing any band bucket; output =
    * candidates that pass EXACT Jaccard verification (≥ 0.5), so the
    * result provably matches `dedupNgramJaccard` (false-negative odds
    * ~1e-9 at the planted similarity levels). */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPairsFrom(shingled(documents(s, dir)), rows = 4, bands = Bands)

  /** The LSH pair body at ANY (rows, bands) — the seam the calibrated
    * routed query serves from ([[graft.ops.Calibrate.dedupMinhashRouted]]).
    * Identical plan shape to the frozen declared query: the shingle and
    * signature relations are each referenced by two or more join sides,
    * so both persist (in production they ARE the stored index; locally
    * MEMORY_AND_DISK mirrors that — the scaladoc note on
    * [[dedupMinhashLsh]]'s historical inline body). Because
    * `UniversalMinHash`'s per-permutation constants depend only on the
    * permutation INDEX, a (rows, 2·bands) layout's first `bands` band
    * buckets are bit-identical to the (rows, bands) layout's — growing
    * the band count only ADDS candidate-generating bands, so recall is
    * monotone in `bands` at fixed `rows` (CalibrateSpec leans on this:
    * the calibrated 16-band fixture rung is a strict superset of the
    * proven 8-band teaching config). */
  private[graft] def minhashLshPairsFrom(sh0: DataFrame,
      rows: Int, bands: Int): DataFrame = {
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hash each shingle ONCE (codegen'd per-element xxhash64+pmod), then
    // compute all rows×bands universal-hash minima in a single codegen'd
    // pass over the long array (the HOF forms — transform per element,
    // k × transform+array_min — evaluated interpreted lambdas and
    // dominated the runtime; equivalences are pinned in the specs)
    val hashed = sh.withColumn("hs",
      graft.functions.VectorExpressions.xxhashModArray(col("shingles"), P))
    val sigs = hashed.select(col("doc_id"),
        graft.functions.VectorExpressions
          .universalMinhash(col("hs"), rows * bands, P).as("mh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band buckets: murmur hash of the band's `rows` signature values;
    // the banded relation carries ONLY (doc_id, band, bucket) — shingle
    // arrays never enter the LSH shuffle
    val bandCols = (0 until bands).map { bnd =>
      val cols = (0 until rows).map(r => col("mh").getItem(bnd * rows + r))
      struct(lit(bnd).as("band"), hash(cols: _*).as("bucket")).as(s"b_$bnd")
    }
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // exact verification: attach shingles only for the (tiny) candidate
    // set. The ±100-char length band is the batch family's blocking rule
    // (dedupNgramJaccardCapped, the incremental path, and BOTH minhash
    // oracles apply it) — without it here, a J ≥ 0.5 pair whose lengths
    // differ by >100 chars (a doc vs itself repeated: near-identical
    // distinct shingle set, doubled length) would be emitted by this leg
    // but omitted by the shared oracle, so "blocking parity" held only
    // oracle-to-oracle (r16 advice). DedupSpec plants exactly that pair.
    val withSets = candidates
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh"),
        col("n_chars").as("a_nc")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh"),
        col("n_chars").as("b_nc")), "b_id")
      .filter(abs(col("a_nc") - col("b_nc")) <= lit(100))
    withSets
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** (doc_id, band, bucket) LSH banding of a shingled relation — the
    * stored-index row format (the relation `dedupMinhashLsh` computes
    * inline; factored out so the incremental path below can band the
    * corpus and a new batch with the same signature parameters; `keep`
    * carries payload columns through the banding for the STREAMING
    * admission probe, where the new document's shingles must travel with
    * its band rows — a stream cannot re-join to itself for verification).
    */
  private[graft] def bandedSigs(sh: DataFrame, keep: Seq[String] = Nil,
      rows: Int = 4, bands: Int = Bands): DataFrame = {
    val sigs = sh
      .withColumn("hs",
        graft.functions.VectorExpressions.xxhashModArray(col("shingles"), P))
      .select(col("doc_id") +: keep.map(col) :+
        graft.functions.VectorExpressions
          .universalMinhash(col("hs"), rows * bands, P).as("mh"): _*)
    val bandCols = (0 until bands).map { bnd =>
      val cols = (0 until rows).map(r => col("mh").getItem(bnd * rows + r))
      struct(lit(bnd).as("band"), hash(cols: _*).as("bucket")).as(s"b_$bnd")
    }
    sigs.select(col("doc_id") +: keep.map(col) :+ explode(array(bandCols: _*)).as("bb"): _*)
      .select(col("doc_id") +: keep.map(col) :+
        col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)
  }

  /** INCREMENTAL MinHash dedup — the shape a production pipeline runs
    * daily: dedupe a NEW document batch against the existing corpus
    * WITHOUT re-pairing the corpus against itself. The corpus side's
    * banded signatures are the stored LSH index (built once per corpus
    * snapshot — `Indexes` materializes exactly this family; recomputed
    * here so the declared query is self-contained on the raw table); the
    * batch side bands only the new rows, and the candidate join probes
    * batch-bands against corpus-bands on (band, bucket) — join volume
    * scales with the BATCH, not the corpus. At 100 TB this is the
    * difference between an O(batch) nightly job and an O(corpus)
    * re-shingle: corpus text never leaves its partitions (only
    * (doc_id, band, bucket) index rows enter the shuffle) and the exact
    * verification touches candidate pairs only.
    *
    * Fixture split is deterministic: batch = doc_id ≡ 0 (mod 10) (~10 %
    * "new" documents), corpus = the rest. Verification = exact Jaccard
    * ≥ 0.5 within the same ±100-char length band as the batch family's
    * other pair queries, so the output provably equals the brute-force
    * batch×corpus pair set (same (1−J⁴)⁸ false-negative odds as
    * `dedupMinhashLsh` — ~1e-9 at planted similarity). */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // shingle relations are each read by two plan branches (banding +
    // verification) — persist mirrors the production stored index
    val corpusSh = shingled(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchSh = shingled(docs.filter(pmod(col("doc_id"), lit(10)) === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = bandedSigs(batchSh).as("n")
      .join(bandedSigs(corpusSh).as("c"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
      .dropDuplicates("new_id", "dup_of")
    candidates
      .join(batchSh.select(col("doc_id").as("new_id"),
        col("shingles").as("a_sh"), col("n_chars").as("a_nc")), "new_id")
      .join(corpusSh.select(col("doc_id").as("dup_of"),
        col("shingles").as("b_sh"), col("n_chars").as("b_nc")), "dup_of")
      .filter(abs(col("a_nc") - col("b_nc")) <= 100)
      .select(col("new_id"), col("dup_of"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
      .orderBy(col("new_id"), col("dup_of"))
  }

  /** 64-bit SimHash near-dup pairs over word-BIGRAM features (unigram
    * features on a shared-vocab corpus leave no hamming gap between
    * near-dups and background — measured; bigrams separate planted pairs
    * from background), signed bit votes, pairs at Hamming distance ≤ 12.
    *
    * Feature hash = two 32-bit halves parsed from the bigram's md5 hex —
    * md5 is identical in every engine, so (unlike round 1's Spark-only
    * xxhash64) the WHOLE simhash pipeline has a DuckDB oracle; recall is
    * additionally pinned against the Jaccard pair set in DedupSpec.
    * Documents with < 2 words are excluded before the bigram sequence is
    * built (sequence(0, -1) descends and slice() throws), mirroring the
    * oracle's len(words) >= 2 guard. */
  def simhashSignatures(df: DataFrame): DataFrame =
    simhashFromFeatureArray(df
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false).as("feats")),
      hashInput = true)

  /** 64-bit signatures from a per-doc FEATURE ARRAY — one compiled
    * map-side pass ([[graft.functions.VectorExpressions.SimhashVotes]],
    * word order Seq(1, 0) preserving this width's historical layout):
    * a signature is a per-row function of the feature multiset, so no
    * explode, no shuffle, no vote aggregate — the banded pair join is
    * the plan's only shuffle. `hashInput=false` for features that are
    * md5 fingerprints already. */
  private[graft] def simhashFromFeatureArray(df: DataFrame,
      hashInput: Boolean): DataFrame =
    df.select(col("doc_id"),
      element_at(graft.functions.VectorExpressions.simhashVotes(
        col("feats"), Seq(1, 0), hashInput), 1).as("simhash"))

  private val SimhashMaxHamming = 12
  private val SimhashBands = 13 // > max hamming → pigeonhole guarantees recall

  /** The 13-band decomposition of a (doc_id, sig_hi, sig_lo) relation:
    * one row per (doc_id, band, bits), 11 bands × 10 bits + 2 × 9
    * ([[balancedBands]]) partitioning all 128 bits. Exposed separately from the pair
    * join so DedupSpec can pin the extracted band bits against an
    * independent plain-Scala formulation (the r10 sign-extension bug
    * lived exactly here and was invisible to any test that reused this
    * expression as its own ground truth). */
  /** Balanced 13-band layout: the first (nBits mod 13) bands carry
    * ceil(nBits/13) bits, the rest floor(nBits/13) — widths differ by
    * at most one, so the WEAKEST band (the dominant Σ|bucket|² term,
    * since candidate volume concentrates where bucket space is
    * smallest) carries floor(nBits/13) bits: 9 at 128, 19 at 256. The
    * r13 review caught the prior greedy layout (12 full-width bands +
    * one runt of nBits mod width — 8 bits at 128, 16 at 256) giving
    * that runt band 2–16× the modeled occupancy and silently
    * dominating the candidate volume a decade before the calibrator's
    * capacity rule said so; balancing makes the rule's
    * floor(bits/13) model TRUE of the actual layout. Pigeonhole recall
    * and the exact hamming verify are width-agnostic, so declared pair
    * outputs are unchanged — only candidate volume drops. (The 64-bit
    * layout was already balanced: 12×5 + 4.) Returns (bitOffset,
    * width) per band. */
  private[graft] def balancedBands(nBits: Int): Seq[(Int, Int)] = {
    val base = nBits / SimhashBands
    val extra = nBits % SimhashBands
    val widths = (0 until SimhashBands).map(b => if (b < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  private[graft] def simhash128Banded(sigs: DataFrame): DataFrame = {
    val bandCols = balancedBands(128).zipWithIndex.map { case ((lo, w), b) =>
      val mask = (1L << w) - 1
      // unsigned shifts throughout: an arithmetic shiftright on a
      // signature with its sign bit set would OR sign-extension 1s over
      // the straddle band's sig_hi contribution, collapsing half the
      // corpus into 2^(64-lo) of the band's 2^w buckets
      val bits =
        if (lo >= 64)
          shiftrightunsigned(col("sig_hi"), lo - 64).bitwiseAND(mask)
        else if (lo + w <= 64)
          shiftrightunsigned(col("sig_lo"), lo).bitwiseAND(mask)
        else { // band straddles the 64-bit word boundary
          val fromLo = shiftrightunsigned(col("sig_lo"), lo)
          val hiBits = w - (64 - lo)
          fromLo.bitwiseOR(
            shiftleft(col("sig_hi").bitwiseAND((1L << hiBits) - 1), 64 - lo))
            .bitwiseAND(mask)
        }
      struct(lit(b).as("band"), bits.as("bits"))
    }
    sigs
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
  }

  /** Banded pairs over the 128-bit signatures: hamming ≤ 12 still
    * pigeonholes into at least one untouched band ([[simhash128Banded]]
    * for the band layout). */
  private[graft] def simhash128BandedPairs(sigs: DataFrame): DataFrame = {
    val banded = simhash128Banded(sigs)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (bit_count(col("a.sig_hi").bitwiseXOR(col("b.sig_hi"))) +
          bit_count(col("a.sig_lo").bitwiseXOR(col("b.sig_lo"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .dropDuplicates("a_id", "b_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Pairs at Hamming ≤ 12 via banded equi-join: split the 64-bit
    * signature into 13 bit-bands; two signatures within Hamming 12 differ
    * in at most 12 bands, so they agree EXACTLY on at least one band
    * (pigeonhole) — candidates from an equi-join on (band, bits) are a
    * guaranteed superset, then the exact bit_count filter reproduces the
    * all-pairs result without the O(n²) nested-loop join. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashBandedPairs(simhashSignatures(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** THE scale knob the 64-bit scaladocs document, in code: a 128-bit
    * signature from the SAME md5 features (all four 32-bit words vote),
    * so the 13 pigeonhole bands carry 10 or 9 bits ([[balancedBands]])
    * instead of 5 or 4 — per-band bucket space grows 32×, and the banded join's
    * Σ|bucket|² candidate volume drops accordingly at equal corpus
    * size (DedupSpec measures the drop and the hamming-0 recall floor
    * on the fixture). Hamming ≤ 12 over 128 bits is a TIGHTER
    * similarity scale than over 64, so this is a separately DECLARED
    * parameterization ([[dedupSimhash128]], its own brute-force
    * oracle), not a drop-in for the 64-bit one. Over the same
    * word-bigram features as [[simhashSignatures]] (same < 2-word
    * exclusion); only the vote width differs. */
  def simhash128Signatures(df: DataFrame): DataFrame =
    simhash128FromFeatureArray(df
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false).as("feats")),
      hashInput = true)

  /** 128-bit sibling of [[simhashFromFeatureArray]]: all four md5 words
    * vote, one compiled map-side pass, (sig_hi, sig_lo) out. */
  private[graft] def simhash128FromFeatureArray(df: DataFrame,
      hashInput: Boolean): DataFrame =
    df.select(col("doc_id"),
      graft.functions.VectorExpressions.simhashVotes(
        col("feats"), Seq(0, 1, 2, 3), hashInput).as("sv"))
      .select(col("doc_id"),
        element_at(col("sv"), 2).as("sig_hi"),
        element_at(col("sv"), 1).as("sig_lo"))

  /** The production parameterization of the banded-hamming join — the
    * tree's one measured quadratic (BASELINE.md 10x probe): 128-bit
    * signatures give the 13 pigeonhole bands 10 or 9 bits, so bucket
    * space per band grows 32x over the 64-bit variant and the equi-join
    * candidate volume collapses accordingly. Declared with its own
    * brute-force all-pairs oracle (hamming <= 12 over 128 bits is a
    * tighter similarity scale — a distinct query, not a re-check of
    * `dedup_simhash`). */
  def dedupSimhash128(s: SparkSession, dir: String): DataFrame =
    simhash128BandedPairs(simhash128Signatures(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Banded Hamming-≤12 pair join over a (doc_id, simhash) relation —
    * shared by the text and media signature variants (pigeonhole recall
    * argument in the scaladoc above).
    *
    * Scale caveat (measured, BASELINE.md r10 probe): 13 bands over a
    * 64-bit signature leave only 5 bits (32 values) per band, so the
    * candidate volume Σ|bucket|² grows quadratically with the corpus —
    * ~32 M candidates at 50 k docs vs ~3.2 G at 500 k (wall still
    * linear there only because the per-candidate XOR+bit_count is
    * codegen-cheap). The production knob is signature LENGTH, not band
    * count: pigeonhole for hamming ≤ 12 needs ≥ 13 bands, so keep
    * ≥ log₂(n / target-bucket-size) bits per band by widening the
    * signature (md5 already supplies 128 bits — 13 bands × 9–10 bits
    * holds today's bucket occupancy at 10× the corpus; SHA-based
    * features extend further), exactly the corpus-size rule
    * `textTfidfCosineLshAt` documents for SRP tables. */
  private[graft] def simhashBandedPairs(sigs: DataFrame): DataFrame = {
    val width = 64 / SimhashBands + 1 // 5 bits (last band takes the remainder)
    val bandCols = (0 until SimhashBands).map { b =>
      val lo = b * width
      val w = math.min(width, 64 - lo)
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND((1L << w) - 1).as("bits"))
    }
    val banded = sigs
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .dropDuplicates("a_id", "b_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** THE next decade of the signature-width ladder: 256-bit SimHash from
    * SHA-256 features (all eight 32-bit words vote), giving the 13
    * pigeonhole bands 20 or 19 bits ([[balancedBands]]) — the WEAKEST
    * band's bucket space 2^19 holds ~16-doc occupancy to ≈ 16·2^19 ≈
    * 8.4 M docs. This is the widening the [[simhashBandedPairs]]
    * scaladoc and the calibrator's rule call for the moment bits-per-
    * band must exceed md5's 128/13 = 9 ceiling — which the r13 10×
    * probe MEASURED: 50 k docs already calibrate to 12 bits/band and
    * fire `simhash_saturated` on the md5 ladder (BASELINE.md). Hamming
    * ≤ 12 over 256 bits is a tighter similarity scale than over 128, so
    * this is a separately DECLARED parameterization with its own
    * brute-force oracle, exactly the motion that declared
    * [[dedupSimhash128]] beside [[dedupSimhash]]. The signature stays
    * an array<long> straight out of the fused `SimhashVotes` pass
    * (algo = sha256) — one compiled map-side expression, banded join as
    * the plan's only shuffle, same as the narrower widths. */
  def dedupSimhash256(s: SparkSession, dir: String): DataFrame =
    simhash256BandedPairs(simhash256Signatures(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** 256-bit signatures over the same word-bigram features as the
    * narrower widths (same < 2-word exclusion); sha256 supplies the
    * eight 32-bit vote words. */
  def simhash256Signatures(df: DataFrame): DataFrame =
    simhash256FromFeatureArray(df
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false).as("feats")),
      hashInput = true)

  /** Fused 256-bit vote pass: sig = array<long> (4 words, little-endian
    * — element 1 carries bits 0..63), kept as the array the banded
    * extraction indexes directly (no hi/lo unpacking at this width). */
  private[graft] def simhash256FromFeatureArray(df: DataFrame,
      hashInput: Boolean): DataFrame =
    df.select(col("doc_id"),
      graft.functions.VectorExpressions.simhashVotes(
        col("feats"), 0 until 8, hashInput, algo = "sha256").as("sig"))

  /** Band extraction over the array<long> signature, width-generic —
    * same unsigned-shift discipline as [[simhash128Banded]]; which bands
    * straddle 64-bit word boundaries depends on the width (3/6/9 at
    * 256 bits; 1/3/4/6/8/9/11/12 at 512). A [[balancedBands]] band is at
    * most ⌈512/13⌉ = 40 < 64 bits wide, so a band spans at most two
    * adjacent words at every declared width. */
  private[graft] def simhashArrayBanded(sigs: DataFrame, nBits: Int): DataFrame = {
    val bandCols = balancedBands(nBits).zipWithIndex.map { case ((lo, w), b) =>
      val mask = (1L << w) - 1
      val wd = lo / 64
      val off = lo % 64
      val word = element_at(col("sig"), wd + 1)
      val bits =
        if (off + w <= 64)
          shiftrightunsigned(word, off).bitwiseAND(mask)
        else {
          val hiBits = off + w - 64
          shiftrightunsigned(word, off)
            .bitwiseOR(shiftleft(element_at(col("sig"), wd + 2)
              .bitwiseAND((1L << hiBits) - 1), 64 - off))
            .bitwiseAND(mask)
        }
      struct(lit(b).as("band"), bits.as("bits"))
    }
    sigs
      .select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
  }

  /** Banded pairs over array<long> signatures of any declared width:
    * hamming ≤ 12 still pigeonholes into at least one untouched band. */
  private[graft] def simhashArrayBandedPairs(sigs: DataFrame, nBits: Int): DataFrame = {
    val banded = simhashArrayBanded(sigs, nBits)
    val hamming = (0 until nBits / 64).map(w =>
      bit_count(element_at(col("a.sig"), w + 1)
        .bitwiseXOR(element_at(col("b.sig"), w + 1)))).reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .dropDuplicates("a_id", "b_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  private[graft] def simhash256BandedPairs(sigs: DataFrame): DataFrame =
    simhashArrayBandedPairs(sigs, 256)

  /** The rung ABOVE sha256: 512-bit SimHash, closing the width ladder's
    * last declared gap — the r13 1000× probe measured the calibrator at
    * planes 19 (the 256-bit layout's weakest-band ceiling) at 5 M docs,
    * so one more decade fired `simhash_saturated` with nothing declared
    * to route to; this is that rung. 13 balanced pigeonhole bands of
    * 40/39 bits ([[balancedBands]]): the weakest band's 2^39 bucket
    * space holds ~16-doc occupancy to ≈ 16·2^39 ≈ 8.8 T docs — past any
    * training corpus, so the ladder is now closed rather than extended
    * (the calibrator's saturation flag moves above 39 bits/band, beyond
    * the SRP rule's own 24-plane clamp).
    *
    * The 512-bit per-element digest is sha256(x) || sha256('#' || x) —
    * domain-separated double sha256 rather than SHA-512, because the
    * DuckDB oracle replays sha256 bit-for-bit but has no sha512; the
    * construction is the standard output-extension trick and keeps the
    * two vote-word halves on distinct inputs. Same fused `SimhashVotes`
    * map-side pass (algo = sha256x2), banded join as the plan's only
    * shuffle; hamming ≤ 12 over 512 bits is again a TIGHTER similarity
    * scale, so a separate declaration with its own brute-force oracle
    * (the [[dedupSimhash256]] motion repeated one rung up). */
  def dedupSimhash512(s: SparkSession, dir: String): DataFrame =
    simhashArrayBandedPairs(simhash512Signatures(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), 512)

  /** 512-bit signatures over the same word-bigram features as the
    * narrower widths (same < 2-word exclusion); the doubled sha256
    * digest supplies the sixteen 32-bit vote words. */
  def simhash512Signatures(df: DataFrame): DataFrame =
    simhash512FromFeatureArray(df
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false).as("feats")),
      hashInput = true)

  private[graft] def simhash512FromFeatureArray(df: DataFrame,
      hashInput: Boolean): DataFrame =
    df.select(col("doc_id"),
      graft.functions.VectorExpressions.simhashVotes(
        col("feats"), 0 until 16, hashInput, algo = "sha256x2").as("sig"))

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) over the
    * same distinct 3-shingle sets as the Jaccard family. Containment is
    * the quote/subset detector — a short document embedded verbatim in a
    * longer one scores C≈1 while its Jaccard can be arbitrarily low, so
    * the length-band and size-ratio prunes used by the Jaccard joins
    * must NOT apply here (they would drop exactly the asymmetric pairs
    * this operator exists to find).
    *
    * Candidate generation is the overlap-prefix join for asymmetric
    * thresholds: C ≥ t means |A∩B| ≥ ceil(t·|A|) for the SMALLER set A,
    * so (prefix theorem, ANY fixed global shingle order) the first
    * |A| − ceil(t·|A|) + 1 shingles of A in that order must hit B —
    * only the smaller side's ~20% prefix enters the join, the larger
    * side keeps its full posting list (its prefix bound degenerates
    * exactly because containment tolerates asymmetry). Candidates then
    * get the exact |A∩B| via array_intersect, so the prune is lossless
    * and the brute-force oracle is unchanged.
    *
    * The global order is (is_hot, xxhash64, shingle), NOT exact-df
    * rarest-first: the exact order needs a df equi-join plus a per-doc
    * rank window — two extra shuffles of the full exploded index that
    * measured at PARITY with no pruning at all (~9 s at sf0.1). Hot
    * shingles (df > 256, one linear aggregate, collapsed to a single
    * broadcast array) are the only ones whose posting lists make the
    * candidate join quadratic, and this order puts exactly them LAST so
    * they never enter a prefix; cold shingles take a fixed pseudo-random
    * order, which costs some candidate selectivity vs exact-df but
    * keeps prefix extraction entirely MAP-SIDE (sort+slice inside the
    * shingle array, keys computed once per element). At 100 TB the
    * shape is: one narrow df aggregate, a map-only prefix pass, and a
    * candidate join whose volume stays near-linear because every
    * superlinear posting list is excluded from the probe side.
    *
    * The declared query pins the hot threshold at the measured 256;
    * `Calibrate.dedupContainmentRouted` consumes the calibrator's
    * `shingle_hot_df` through [[containmentPairs]] instead — the prune
    * is lossless at ANY threshold (the theorem needs only a fixed
    * global order), so both share the brute-force oracle. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(s, dir, hotDf = 256L)

  /** [[dedupContainment]] with the hot-shingle threshold as the seam
    * the calibrated consumer routes through. */
  private[graft] def containmentPairs(s: SparkSession, dir: String,
      hotDf: Long): DataFrame = {
    val t = 0.8
    val sh = shingled(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex0 = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // Prefix extraction is MAP-SIDE: the theorem holds for ANY fixed
    // global shingle order, so instead of the exact-df rarest-first
    // order (df join + per-doc rank window = two extra shuffles of the
    // full exploded index — measured at parity with no pruning at all,
    // ~9 s at sf0.1), order by (is_hot, xxhash64): hot shingles — the
    // only ones whose posting lists blow up the candidate join — sort
    // LAST and so never enter a ~20% prefix, and everything else takes
    // a fixed pseudo-random order. The hot set comes from one linear df
    // aggregate, collapses to a single broadcast array row, and the
    // ordering runs inside the array per document — the exploded
    // index is never shuffled before the candidate join.
    val hotShingles = ex0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDf)
      .agg(collect_list(col("shingle")).as("hot"))
    // ONE codegen'd pass emits each document's full (is_hot, xxhash64,
    // value)-ordered key array (xxhash64 LONGS, not strings: the
    // candidate join is the one place the index is shuffled and sorted,
    // and 8-byte compares beat ~25-byte UTF8 there; hashing can only
    // MERGE keys, so collisions add spurious candidates, never lose
    // one). posexplode gives every entry its RANK in that order — the
    // prefix relation is `pos < |S| − ceil(t·|S|) + 1` of the SAME
    // relation, and both join sides carry positions for the PPJoin
    // positional filter below.
    val keyed = sh.crossJoin(broadcast(hotShingles))
      .select(col("doc_id"), col("shingles"),
        graft.functions.VectorExpressions
          .hashOrderKeys(col("shingles"), col("hot")).as("keys"))
      .select(col("doc_id"), col("shingles"), col("keys"),
        size(col("keys")).as("n_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = keyed.select(col("doc_id"), col("n_sh"),
      posexplode(col("keys")).as(Seq("pos", "hk")))
    val prefix = ex.filter(
      col("pos") < col("n_sh") - ceil(col("n_sh") * t) + 1)
    // smaller-set side = prefix, larger side = full index; equal sizes
    // tie-break on doc_id so each unordered pair materializes once.
    // POSITIONAL filter (PPJoin): common elements of a pair appear in
    // the same relative order on both sides (one global total order),
    // so the pair's FIRST common element at ranks (i, j) bounds the
    // overlap by min(|A|−i, |B|−j); a true pair (overlap ≥ t·|A|)
    // always survives via that first-common row, and every join row
    // whose match sits too deep in either order is pruned before the
    // pair ever reaches dropDuplicates — measured 264k → ~5× fewer
    // candidates at sf0.1 on near-uniform doc sizes.
    val candidates = prefix.as("a").join(ex.as("b"),
        col("a.hk") === col("b.hk") &&
          (col("a.n_sh") < col("b.n_sh") ||
            (col("a.n_sh") === col("b.n_sh") && col("a.doc_id") < col("b.doc_id"))) &&
          least(col("a.n_sh") - col("a.pos"), col("b.n_sh") - col("b.pos"))
            .cast("double") >= col("a.n_sh") * t)
      .select(col("a.doc_id").as("s_id"), col("b.doc_id").as("l_id"))
      .dropDuplicates("s_id", "l_id")
    // Two-stage verify: a codegen'd hashed-count pre-filter over the
    // 8-byte key arrays (≥ the exact string intersection — lossless)
    // prunes the candidate set to ~the true pairs, and the exact
    // array_intersect over shingle STRINGS (the expensive compare)
    // then runs over survivors only. The brute-force oracle is
    // unchanged: every emitted pair is verified on the exact strings.
    candidates
      .join(keyed.select(col("doc_id").as("s_id"), col("keys").as("s_keys"),
        col("shingles").as("s_sh")), "s_id")
      .join(keyed.select(col("doc_id").as("l_id"), col("keys").as("l_keys"),
        col("shingles").as("l_sh")), "l_id")
      .filter(graft.functions.VectorExpressions
        .longIntersectCount(col("s_keys"), col("l_keys")).cast("double") >=
        least(size(col("s_sh")), size(col("l_sh"))).cast("double") * t)
      .select(least(col("s_id"), col("l_id")).as("a_id"),
        greatest(col("s_id"), col("l_id")).as("b_id"),
        (size(array_intersect(col("s_sh"), col("l_sh"))).cast("double") /
          least(size(col("s_sh")), size(col("l_sh"))).cast("double"))
          .as("containment"))
      .filter(col("containment") >= t)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Token width of the duplicate-substring grams. Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) use 50 BPE tokens on real corpora; the fixture docs
    * average ~54 words, so the declared query pins the semantics at
    * width 10 and the production width is a config knob — the plan
    * shape is identical at any width. */
  private val SpanK = 10

  /** Maximal cross-document duplicate substring spans — the ExactSubstr
    * dedup deliverable (Lee et al. 2022): not WHICH grams repeat
    * ([[Mining.textRepeatedPassages]] already counts those) but WHICH
    * TOKEN RANGES of each document are covered by text that also
    * appears verbatim in another document, merged into maximal spans a
    * pipeline can cut before training.
    *
    * Plan (reference-engine suffix arrays don't distribute; this does):
    *   1. map-only positional K-grams per doc — (doc_id, pos, gh) where
    *      gh = md5 of the K-token window. Hashing the gram BEFORE the
    *      shuffle keeps shuffle rows constant-width (32 hex chars vs
    *      ~6 K·avg-token bytes); md5 collisions would only merge spans
    *      conservatively and are vanishing at 128 bits.
    *   2. one hash-aggregate shuffle keyed on gh → grams seen in ≥ 2
    *      DISTINCT docs (within-doc self-repeats are [[Curation]]'s
    *      `text_repetition` concern, not dedup).
    *   3. big-big equi-join grams ⋈ dup-ghs, both sides hash-partitioned
    *      on gh — the standard posting join, no broadcast assumption.
    *   4. per-doc gaps-and-islands: overlapping/adjacent duplicated
    *      gram starts (pos − row_number() constant) merge into maximal
    *      spans [min pos, max pos + K − 1]. The window partitions by
    *      doc_id — bounded by document length, never corpus-global.
    *
    * At 100 TB: stages 1–3 are the same shape as the tf-idf posting
    * pipeline (measured sub-linear in the 10× probe); stage 4 is a
    * per-doc window. The [[TextAnalysis.textSalienceMonitor]] analogue
    * here is the df ≥ 2 cut itself — boilerplate/template grams with
    * huge df inflate stage 3's join volume AND skew stage 2's window
    * partitioning; [[spansFromDocs]]' `dfCap` parameter is that knob
    * (anti-join the over-cap grams out before the window — cutting
    * spans only from the df ≤ cap tail is still conservative-correct
    * for removal decisions). The declared query runs uncapped so the
    * brute-force oracle stays exact. */
  def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame =
    spansFromDocs(documents(s, dir))

  /** Span detection over an arbitrary (doc_id, text) relation — the seam
    * [[Pipeline.pipelineCurationFunnel]] uses to recompute spans on the
    * quality+dedup SURVIVOR set (duplicate grams are df ≥ 2 among
    * survivors, not the raw corpus).
    *
    * `dfCap` (0 = off, the declared-query default) is the skew knob: the
    * min≠max window keys on gh, so every occurrence of a boilerplate
    * gram (license headers, templates) lands in ONE partition — at scale
    * that single partition is the straggler. With a positive cap, one
    * map-side-combinable occurrence-count aggregate finds the over-cap
    * grams (a tiny boilerplate set — occurrence count is exactly the
    * quantity that sizes the hot partition), and an anti-join drops
    * them BEFORE the window. The join strategy is LEFT TO THE PLANNER
    * deliberately: the "hot set is tiny" assumption holds only when the
    * cap is set well above the corpus's typical gram df (the intended
    * regime — boilerplate is by definition rare among distinct grams),
    * but a small cap on a heavy-tailed corpus can make the over-cap set
    * arbitrarily large, and an unconditional broadcast hint there would
    * exhaust the driver. AQE broadcasts it when its measured size
    * clears `autoBroadcastJoinThreshold` and falls back to a shuffled
    * join otherwise — exactly the size check the hint couldn't make.
    * Cutting spans only from the df ≤ cap tail stays
    * conservative-correct for removal decisions (the production trade
    * Lee et al. §4 note: boilerplate handled by a dedicated filter, not
    * the span cutter). The aggregate side re-scans the corpus but is
    * column-pruned to gh and map-only — cheaper than persisting the
    * corpus-sized exploded gram relation. */
  private[graft] def spansFromDocs(docs: DataFrame, dfCap: Long = 0L,
      k: Int = SpanK): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
    // compiled gram hashing (Md5GramKeys ≡ the transform/slice/
    // array_join/md5 HOF chain — VectorExpressionsSpec); posexplode's
    // ordinal IS the gram position the struct used to carry
    val gramsAll = toks.select(col("doc_id"),
        posexplode(graft.functions.VectorExpressions
          .md5GramKeys(col("w"), k, 32)).as(Seq("p", "gh")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("gh"))
    val grams = if (dfCap > 0L) {
      val hot = gramsAll.groupBy(col("gh")).agg(count(lit(1)).as("c"))
        .filter(col("c") > dfCap).select(col("gh"))
      gramsAll.join(hot, Seq("gh"), "left_anti")
    } else gramsAll
    // "seen in >= 2 DISTINCT docs" as a single whole-partition window:
    // min(doc_id) != max(doc_id) over the gram's partition. One shuffle
    // on gh and ONE gram build, where a df-aggregate + join-back would
    // re-scan and re-explode the corpus for the probe side.
    val gw = Window.partitionBy(col("gh"))
    val hits = grams
      .withColumn("mn", min(col("doc_id")).over(gw))
      .withColumn("mx", max(col("doc_id")).over(gw))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"),
        (max(col("pos")) - min(col("pos")) + k).as("n_tokens"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_tokens"), col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** DuckDB oracle for the simhash pipeline: brute-force all-pairs over
    * per-document bit votes (fine at sf0.01), same md5-derived feature
    * bits as the Spark side. The banded equi-join is exact-recall by
    * pigeonhole, so the two result sets agree. */
  /** Brute-force simhash oracle over ANY feature CTE chain ending in
    * `f AS (doc_id, m)` — all-pairs per-bit majority + hamming (fine at
    * sf0.01). Shared with `Multimodal`'s perceptual-hash variant; the
    * banded equi-join is exact-recall by pigeonhole, so the sets agree. */
  private[graft] def simhashOracleFor(featureCtes: String): String = {
    val bitCols = (0 until 64).map { k =>
      val h = if (k < 32) "h_lo" else "h_hi"
      val div = 1L << (k % 32)
      s"CASE WHEN sum(CASE WHEN ($h // $div) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN 1 ELSE 0 END AS b$k"
    }.mkString(", ")
    val hamming = (0 until 64).map(k => s"abs(a.b$k - b2.b$k)").mkString(" + ")
    s"""WITH $featureCtes,
       |h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(m, 1, 8))::BIGINT AS h_hi,
       |    ('0x' || substr(m, 9, 8))::BIGINT AS h_lo
       |  FROM f),
       |b AS (SELECT doc_id, $bitCols FROM h GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
       |         CAST($hamming AS BIGINT) AS hamming
       |  FROM b a JOIN b b2 ON a.doc_id < b2.doc_id)
       |SELECT a_id, b_id, hamming FROM p
       |WHERE hamming <= 12 ORDER BY a_id, b_id""".stripMargin
  }

  /** 128-bit sibling of [[simhashOracleFor]]: all four md5 words vote
    * (bit k comes from word k/32, i.e. hex chars 1+8*(k/32)..8), same
    * all-pairs majority + hamming shape. The banded join is exact-recall
    * by pigeonhole, so the brute force IS the oracle. */
  private[graft] def simhash128OracleFor(featureCtes: String): String = {
    val bitCols = (0 until 128).map { k =>
      val div = 1L << (k % 32)
      s"CASE WHEN sum(CASE WHEN (h${k / 32} // $div) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN 1 ELSE 0 END AS b$k"
    }.mkString(", ")
    // chunked parens: a left-deep 128-term `+` chain exceeds DuckDB's
    // binder recursion limit (128), so group 16 terms per paren
    val hamming = (0 until 128).map(k => s"abs(a.b$k - b2.b$k)")
      .grouped(16).map(_.mkString("(", " + ", ")")).mkString(" + ")
    val words = (0 until 4).map(wd =>
      s"('0x' || substr(m, ${1 + 8 * wd}, 8))::BIGINT AS h$wd").mkString(", ")
    s"""WITH $featureCtes,
       |h AS (SELECT doc_id, $words FROM f),
       |b AS (SELECT doc_id, $bitCols FROM h GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
       |         CAST($hamming AS BIGINT) AS hamming
       |  FROM b a JOIN b b2 ON a.doc_id < b2.doc_id)
       |SELECT a_id, b_id, hamming FROM p
       |WHERE hamming <= 12 ORDER BY a_id, b_id""".stripMargin
  }

  /** Wide sibling of [[simhash128OracleFor]], width-generic: nBits/32
    * digest words vote (bit k from word k/32, i.e. hex chars
    * 1+8·(k/32)..8), same all-pairs majority + hamming shape, hamming
    * chunked 16 terms per paren (the DuckDB binder-recursion guard the
    * 128-bit oracle documents — 256 and 512 bits only deepen it). */
  private def simhashWideOracleFor(featureCtes: String, nBits: Int): String = {
    val bitCols = (0 until nBits).map { k =>
      val div = 1L << (k % 32)
      s"CASE WHEN sum(CASE WHEN (h${k / 32} // $div) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN 1 ELSE 0 END AS b$k"
    }.mkString(", ")
    val hamming = (0 until nBits).map(k => s"abs(a.b$k - b2.b$k)")
      .grouped(16).map(_.mkString("(", " + ", ")")).mkString(" + ")
    val words = (0 until nBits / 32).map(wd =>
      s"('0x' || substr(m, ${1 + 8 * wd}, 8))::BIGINT AS h$wd").mkString(", ")
    s"""WITH $featureCtes,
       |h AS (SELECT doc_id, $words FROM f),
       |b AS (SELECT doc_id, $bitCols FROM h GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
       |         CAST($hamming AS BIGINT) AS hamming
       |  FROM b a JOIN b b2 ON a.doc_id < b2.doc_id)
       |SELECT a_id, b_id, hamming FROM p
       |WHERE hamming <= 12 ORDER BY a_id, b_id""".stripMargin
  }

  private[graft] def simhash256OracleFor(featureCtes: String): String =
    simhashWideOracleFor(featureCtes, 256)

  private[graft] def simhash512OracleFor(featureCtes: String): String =
    simhashWideOracleFor(featureCtes, 512)

  private val simhashFeatureCtes =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |f AS (
      |  SELECT doc_id, md5(bg) AS m FROM (
      |    SELECT doc_id,
      |      unnest([array_to_string(words[i:i+1], ' ')
      |              FOR i IN range(1, len(words))]) AS bg
      |    FROM w))""".stripMargin

  private val simhash256FeatureCtes =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |f AS (
      |  SELECT doc_id, sha256(bg) AS m FROM (
      |    SELECT doc_id,
      |      unnest([array_to_string(words[i:i+1], ' ')
      |              FOR i IN range(1, len(words))]) AS bg
      |    FROM w))""".stripMargin

  // the doubled-sha256 512-bit digest (see dedupSimhash512's scaladoc)
  private val simhash512FeatureCtes =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |f AS (
      |  SELECT doc_id, sha256(bg) || sha256('#' || bg) AS m FROM (
      |    SELECT doc_id,
      |      unnest([array_to_string(words[i:i+1], ' ')
      |              FOR i IN range(1, len(words))]) AS bg
      |    FROM w))""".stripMargin

  private def simhashOracleSql: String = simhashOracleFor(simhashFeatureCtes)

  /** Feature CTEs with the rung guard pushed into the DOCUMENT SCAN —
    * the routed oracle's pruning trick: `dedup_simhash_routed`'s oracle
    * is a 4-way UNION of the rungs' brute-force legs, each leg's corpus
    * scan guarded by `bits = (SELECT bits FROM rung)` (an outer CTE the
    * union's query defines), so the three non-selected legs run their
    * all-pairs joins over EMPTY relations and the union costs one rung.
    * Names shadow per-subquery scope, so all four legs reuse w/f/h/b/p. */
  private[graft] def simhashFeatureCtesGuarded(bits: Int): String = {
    val digest = bits match {
      case 64 | 128 => "md5(bg)"
      case 256 => "sha256(bg)"
      case _ => "sha256(bg) || sha256('#' || bg)"
    }
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |    AND $bits = (SELECT bits FROM rung)),
       |f AS (
       |  SELECT doc_id, $digest AS m FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(words[i:i+1], ' ')
       |              FOR i IN range(1, len(words))]) AS bg
       |    FROM w))""".stripMargin
  }

  /** The four rungs' brute-force oracle bodies over [[simhashFeatureCtesGuarded]]
    * relations — the building blocks of the routed oracle's union. */
  private[graft] def simhashRungOracle(bits: Int): String = bits match {
    case 64 => simhashOracleFor(simhashFeatureCtesGuarded(64))
    case 128 => simhash128OracleFor(simhashFeatureCtesGuarded(128))
    case 256 => simhash256OracleFor(simhashFeatureCtesGuarded(256))
    case _ => simhash512OracleFor(simhashFeatureCtesGuarded(512))
  }

  private[graft] val jaccardPairsSql =
    """WITH sh AS (
      |  SELECT doc_id, n_chars,
      |    list_distinct([array_to_string(words[i:i+2], ' ')
      |                   FOR i IN range(1, len(words) - 1)]) AS shingles
      |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
      |  WHERE len(words) >= 3)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
      |  CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b
      |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 100
      |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("dedup_exact", dedupExact _,
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),
    // maximal duplicate spans: positional 10-gram md5s, df >= 2 over
    // distinct docs, gaps-and-islands merge (pos - row_number()).
    Declared("dedup_substring_spans", dedupSubstringSpans _,
      s"""WITH $substringSpanCtes
         |SELECT doc_id, span_start, span_end, n_tokens, n_grams
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),
    Declared("dedup_containment", dedupContainment _,
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(words[i:i+2], ' ')
        |                   FOR i IN range(1, len(words) - 1)]) AS shingles
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 3)
        |SELECT a_id, b_id, containment FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |    CAST(least(len(a.shingles), len(b.shingles)) AS DOUBLE) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE containment >= 0.8 ORDER BY a_id, b_id""".stripMargin),
    Declared("dedup_ngram_jaccard", dedupNgramJaccard _, jaccardPairsSql),
    // the prefix filter is lossless
    Declared("dedup_ngram_jaccard_prefix", dedupNgramJaccardPrefix _, jaccardPairsSql),
    // served from the shared materialized index (Indexes.nearDupPairs);
    // dedupMinhashLsh is the builder. Verified LSH == brute force by design
    Declared("dedup_minhash_lsh", (s, d) => Indexes.nearDupPairs(s, d), jaccardPairsSql),
    // brute-force batch×corpus recomputation; the incremental LSH probe
    // is exact-by-verification like the full LSH above
    Declared("dedup_incremental", dedupIncremental _,
      """WITH sh AS (
        |  SELECT doc_id, n_chars,
        |    list_distinct([array_to_string(words[i:i+2], ' ')
        |                   FOR i IN range(1, len(words) - 1)]) AS shingles
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 3)
        |SELECT b.doc_id AS new_id, a.doc_id AS dup_of,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
        |  AND abs(a.n_chars - b.n_chars) <= 100
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5
        |ORDER BY new_id, dup_of""".stripMargin),
    Declared("dedup_simhash", dedupSimhash _, simhashOracleSql),
    Declared("dedup_simhash128", dedupSimhash128 _, simhash128OracleFor(simhashFeatureCtes)),
    Declared("dedup_simhash256", dedupSimhash256 _, simhash256OracleFor(simhash256FeatureCtes)),
    Declared("dedup_simhash512", dedupSimhash512 _, simhash512OracleFor(simhash512FeatureCtes)),
  )

  /** CTE chain ending in `spans(doc_id, span_start, span_end, n_tokens,
    * n_grams)` — shared by the span query's oracle and Pipeline's
    * span-cut oracle. g feeds two consumers -> MATERIALIZED (DuckDB
    * default inlining would re-expand the gram build per consumer).
    * A def, not a val: the oracleSql map above interpolates it during
    * object init, which would read a later-initialized val as null. */
  private[graft] def substringSpanCtes: String = substringSpanCtesFor("documents")

  /** Same CTE chain over an arbitrary (doc_id, text) relation name —
    * the funnel oracle recomputes spans on its survivor CTE. */
  private[graft] def substringSpanCtesFor(rel: String): String =
    s"""w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM $rel
      |  WHERE len(string_split(text, ' ')) >= 10),
      |g AS MATERIALIZED (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |         md5(array_to_string(words[i:i+9], ' ')) AS gh
      |  FROM (SELECT doc_id, words,
      |               unnest(range(1, len(words) - 8)) AS i FROM w)),
      |dup AS (
      |  SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      |h AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM h),
      |spans AS (
      |  SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
      |    max(pos) - min(pos) + 10 AS n_tokens, count(*) AS n_grams
      |  FROM isl GROUP BY doc_id, grp)""".stripMargin
}
