package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Declared
import graft.Tables._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decode / feature-extract / resize / frame-sample
  * stages. The container has no image/audio codecs, so the DECODE step is
  * a clearly-marked deterministic stub — but the Spark-side plumbing
  * (schema, binary handling, partition-preserving batch transform,
  * metadata struct shape) is real and tested.
  *
  * Fixture: no real media files ship with the test data, so media bytes
  * are synthesized deterministically from `documents.text` (UTF-8
  * encode). At 100 TB the same plan shape applies to real bytes: per-row
  * projections, no shuffle until the aggregation, binary never exploded.
  */
object Multimodal {

  /** documents → media table: (doc_id, media binary, media_type). */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"))

  /** Binary metadata extraction — all built-in expressions over the blob:
    * byte length, header magic (hex of first 4 bytes), frame count at a
    * fixed 256-byte "frame" size, sampled frame offsets. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
        col("doc_id"), col("media_type"),
        octet_length(col("media")).cast("long").as("n_bytes"),
        lower(hex(substring(col("media"), 1, 4))).as("magic_hex"))
      .withColumn("n_frames", expr("(n_bytes + 255) div 256"))
      // zero-byte media: n_frames = 0 must yield an EMPTY offset list
      // (sequence(0, -1) would descend to [0, -1]); guarded to agree with
      // the oracle's range(0, 0) = []
      .withColumn("sampled_frames",
        expr("""IF(n_frames > 0,
               |   transform(sequence(0, CAST(least(n_frames - 1, 3) AS INT)),
               |             i -> CAST(i * 256 AS STRING)),
               |   CAST(array() AS ARRAY<STRING>))""".stripMargin))
      .select(col("doc_id"), col("media_type"), col("n_bytes"), col("magic_hex"),
        col("n_frames"), array_join(col("sampled_frames"), ",").as("sampled_offsets"))
      .orderBy(col("doc_id"))

  /** STUB DECODE — deterministic fake standing in for a real codec
    * (none available in this container). Produces the metadata struct a
    * real decoder would: dimensions derived arithmetically from the
    * bytes. Runs as a partition-preserving typed batch transform
    * (`Dataset.mapPartitions` with an encoder — the Scala analogue of
    * `mapInPandas`): the decode "library" is invoked once per partition
    * (amortized init), rows stream through the partition iterator, the
    * output schema comes from the encoder. Staying on the Dataset API
    * (vs the round-1 `.rdd` + `createDataFrame` round-trip) keeps the
    * plan inside Catalyst — AQE still re-plans around it and there is no
    * RDD scan boundary (asserted in PlanSpec); a real 100 TB decoder
    * would use `mapInArrow` for columnar batches with the same shape. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  def decodeStub(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "media")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init of the (fake) codec — where a real libjpeg /
        // ffmpeg handle would be opened once
        val codecReady = true
        it.map { case (id, mediaType, bytes) =>
          val w = 16 + (bytes.length % 113)          // real: decode header
          val h = 16 + ((bytes.length / 7) % 97)     // real: decode header
          val c = if (mediaType == "audio") 1 else 3
          (id, mediaType, w, h, c, codecReady && bytes.nonEmpty)
        }
      }
      .toDF(decodedSchema.fieldNames.toSeq: _*)
  }

  /** Decode + aggregate: media stats per type through the stubbed decode
    * path. The width/height math is the stub's deterministic arithmetic,
    * reproduced in the oracle — so the PLUMBING (binary → mapPartitions
    * decode → agg) is oracle-checked even though the codec is fake. */
  def mediaDecodeStats(s: SparkSession, dir: String): DataFrame =
    decodeStub(mediaTable(s, dir))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        max(col("channels")).cast("long").as("max_channels"))
      .orderBy(col("media_type"))

  /** RESIZE stage over decoded dimensions: fit each medium into a
    * 224×224 box preserving aspect ratio — pure integer arithmetic
    * (scale = 224/max(w,h), floor, min dimension clamped to 1), the
    * geometry a real thumbnailer computes before invoking the codec's
    * scaler. Chained onto the decode stub; per-row projection, no
    * shuffle until the stats aggregate. */
  def mediaResizeStats(s: SparkSession, dir: String): DataFrame =
    decodeStub(mediaTable(s, dir))
      .withColumn("fit_w",
        expr("greatest(CAST(width * 224 div greatest(width, height) AS INT), 1)"))
      .withColumn("fit_h",
        expr("greatest(CAST(height * 224 div greatest(width, height) AS INT), 1)"))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("fit_w").cast("long")).as("sum_fit_w"),
        sum(col("fit_h").cast("long")).as("sum_fit_h"),
        max(greatest(col("fit_w"), col("fit_h")).cast("long")).as("max_fit_side"))
      .orderBy(col("media_type"))

  /** Full multimodal chain: media bytes → (stub) feature extraction →
    * nearest neighbor by feature distance. Features are 8 deterministic
    * integer moments of the byte stream (real pipelines put a model
    * here; the CHAIN — binary column → per-row feature vector → pairwise
    * search — is the part that must scale, and it is identical). Each of
    * the first 8 docs finds its nearest same-type neighbor by exact L1
    * distance over the integer features. */
  def mediaNearestNeighbor(s: SparkSession, dir: String): DataFrame = {
    val feats = mediaTable(s, dir).select(col("doc_id"), col("media_type"),
      octet_length(col("media")).cast("long").as("nb"))
      .select(col("doc_id"), col("media_type"),
        expr("""array(nb % 251, (nb div 7) % 251, (nb div 13) % 251,
               |      (nb div 29) % 251, nb % 127, nb % 83, nb % 61, nb % 37)"""
          .stripMargin).as("feat"))
    val queries = feats.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), col("media_type"), col("feat").as("qf"))
    val cands = feats
      .select(col("doc_id").as("cand_id"), col("media_type"), col("feat").as("cf"))
    val l1 = expr("aggregate(zip_with(qf, cf, (x, y) -> abs(x - y)), 0L, (a, v) -> a + v)")
    val scored = cands.join(broadcast(queries), Seq("media_type"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("media_type"), col("cand_id"), l1.as("l1_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("l1_dist").asc, col("cand_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("media_type"), col("cand_id"), col("l1_dist"))
      .orderBy(col("query_id"))
  }

  /** Chunk-level media dedup — the content-addressable-storage shape:
    * fingerprint fixed 256-byte chunks of every blob, find chunks shared
    * across the corpus (dedup unit for media storage and transfer). The
    * blob is hexed once and md5'd per 512-hex-char slice — per-row
    * projection + explode; only (chunk_md5, doc_id) pairs shuffle, never
    * media bytes.
    *
    * FIXED-OFFSET slicing is the teaching/fixture config of the CAS
    * family: a single INSERTED byte shifts every downstream chunk, so an
    * edited file shares nothing with its original (MultimodalSpec
    * measures exactly that miss). The DECLARED production sibling is
    * [[mediaCdcChunks]] — the same [[casDedup]] aggregate over
    * content-defined boundaries, where edits only perturb chunks at the
    * edit site — the same retirement motion the 64-bit pHash took
    * (`mediaPhashDedup` vs [[mediaPhashDedup128]]). */
  def mediaChunkDedup(s: SparkSession, dir: String): DataFrame =
    casDedup(fixedChunksOf(mediaTable(s, dir)))

  /** Fixed 256-byte chunk fingerprints (the teaching config's chunker) —
    * kept as a seam so the spec can contrast both chunkers through the
    * SAME dedup aggregate. */
  private[graft] def fixedChunksOf(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), lower(hex(col("media"))).as("hx"))
      .filter(length(col("hx")) > 0) // sequence(0,-1) would descend
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST((length(hx) + 511) div 512 - 1 AS INT)),
          |          i -> md5(substring(hx, i * 512 + 1, 512)))""".stripMargin))
        .as("chunk_md5"))

  /** The CAS aggregate both chunkers share: chunks seen more than once,
    * with copy/doc counts — only (chunk_md5, doc_id) pairs shuffle. */
  private[graft] def casDedup(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_copies") > 1)
      .orderBy(col("chunk_md5"))

  /** Content-defined chunking (CDC) dedup — the production upgrade the
    * [[mediaChunkDedup]] scaladoc promises: chunk boundaries are placed
    * where a rolling content hash of the trailing 8-byte window hits a
    * pattern (boundary probability 1/16, mean chunk ≈ 16 bytes), so
    * INSERTING or deleting bytes only perturbs chunks near the edit —
    * every boundary downstream re-synchronizes and the shared tail
    * deduplicates, where fixed-offset slicing shifts every subsequent
    * chunk and shares nothing (MultimodalSpec proves exactly this
    * contrast). This is the rsync/LBFS/backup-dedup shape
    * (Muthitacharoen et al., SOSP'01).
    *
    * Scale: ONE compiled pass per row
    * ([[graft.functions.VectorExpressions.ContentChunks]] — the
    * Rabin-style O(1)-per-byte rolling polynomial hash; boundary rule
    * and the window-local per-offset formulation DuckDB replays are in
    * its scaladoc) — bytes never shuffle, only (chunk_md5, doc_id)
    * pairs enter the aggregate. r12 swapped this in for the
    * md5-per-offset stand-in, which measured ~6× the fixed-offset
    * chunker's cost at sf0.1; MultimodalSpec pins it against the
    * expression-tree formulation that mirrors the oracle SQL 1:1. At 100 TB add a min/max
    * chunk-size clamp against pathological boundary densities. */
  private[graft] def cdcChunksOf(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), col("media"))
      .filter(octet_length(col("media")) >= 8)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions.contentChunks(col("media")))
          .as("chunk_md5"))

  /** The PRODUCTION CAS dedup: [[casDedup]] over content-defined chunks
    * — the declared query an edited-media corpus needs (see
    * [[mediaChunkDedup]]'s retirement note and MultimodalSpec's
    * edit-resilience contrast through this exact aggregate). */
  def mediaCdcChunks(s: SparkSession, dir: String): DataFrame =
    casDedup(cdcChunksOf(mediaTable(s, dir)))

  /** Perceptual-hash near-duplicate detection for media blobs — the
    * image-dedup stage of a multimodal curation pipeline (pHash shape:
    * per-blob features → signed bit votes → 64-bit signature → banded
    * Hamming join; Hamming ≤ 12 ⇒ near-duplicate). Real pHash features
    * are DCT coefficients of the decoded, downscaled image; this
    * container has no codecs, so the features are the blob's 256-byte
    * chunk fingerprints (this module's standing deterministic stand-in,
    * same slicing as [[mediaChunkDedup]]) — the signature construction,
    * the pigeonhole-banded candidate join, and the exact Hamming verify
    * are `Dedup`'s SimHash machinery verbatim (`simhashFromFeatureArray` /
    * `simhashBandedPairs`), which is the point: media near-dup rides the
    * text stack's plumbing with only the feature extractor swapped.
    *
    * Scale: the blob is hexed and chunk-hashed in one map pass (bytes
    * never shuffle); the vote aggregate is map-side combinable; the
    * banded join is the same bounded-candidate shape as `dedup_simhash`.
    * The 64-bit signature is the fixture-scale teaching config — its
    * 5-bit bands go candidate-bound at ~500 k blobs (BASELINE.md 10×
    * probe: 8.66× wall); [[mediaPhashDedup128]] is the declared
    * production sibling (128-bit signature over edit-resilient CDC
    * chunk features). */
  def mediaPhashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashBandedPairs(
      Dedup.simhashFromFeatureArray(phashFeatureArrays(s, dir),
        hashInput = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Per-doc chunk-feature ARRAYS for the 64-bit perceptual hash (same
    * fixed 256-byte slicing as [[mediaChunkDedup]]): raw hex slices per
    * row, md5'd inside the fused vote expression — no explode, no
    * shuffle before the banded join. */
  private def phashFeatureArrays(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("doc_id"), lower(hex(col("media"))).as("hx"))
      .filter(length(col("hx")) > 0)
      .select(col("doc_id"), expr(
        """transform(sequence(0, CAST((length(hx) + 511) div 512 - 1 AS INT)),
          |          i -> substring(hx, i * 512 + 1, 512))""".stripMargin)
        .as("feats"))

  /** 128-bit perceptual near-dup over CONTENT-DEFINED chunk features —
    * the production parameterization of media near-dup, declared with
    * its own brute-force hamming oracle. Two things change vs the
    * 64-bit [[mediaPhashDedup]], each fixing one measured failure:
    *
    *  - SIGNATURE WIDTH: 128 bits give the 13 pigeonhole bands 10 bits
    *    each, deferring the 64-bit bands' quadratic Σ|bucket|² candidate
    *    volume by 32× in bucket space (BASELINE.md 10× probes: 8.66×
    *    wall for the 64-bit config vs ~2-3× for 128-bit knobs).
    *  - FEATURES: fixed-offset 256-byte chunks shift wholesale after any
    *    edit, so planted near-dups share almost no features and land FAR
    *    outside any useful hamming radius; [[cdcChunksOf]]'s
    *    content-defined chunks RE-SYNCHRONIZE after an edit (the
    *    rsync/LBFS property MultimodalSpec proves), so near-dups share
    *    most features. Measured on the fixture: true near-dup pairs
    *    land at hamming ≤ ~36 with the non-dup background starting at
    *    ~40 — a clean valley; the banded radius 12 keeps the tight
    *    majority (exact-recall at ≤ 12 by pigeonhole, so the
    *    brute-force oracle and the banded join agree bit-for-bit).
    *
    * Scale: chunking + fingerprinting are ONE compiled rolling-hash
    * pass per row ([[graft.functions.VectorExpressions.ContentChunks]];
    * bytes never shuffle, only (doc_id, chunk_md5) enters the vote
    * aggregate), then `Dedup`'s shared 128-bit vote/band/verify
    * machinery — media near-dup rides the text stack's plumbing with
    * only the feature extractor swapped. */
  def mediaPhashDedup128(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash128BandedPairs(
      Dedup.simhash128FromFeatureArray(
        mediaTable(s, dir)
          .select(col("doc_id"), col("media"))
          .filter(octet_length(col("media")) >= 8)
          .select(col("doc_id"), graft.functions.VectorExpressions
            .contentChunks(col("media")).as("feats")),
        hashInput = false) // CDC chunk fingerprints ARE md5 hex already
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Contrastive media-text pair assembly (the CLIP-style training-set
    * builder): every media row paired with its own caption (positive)
    * and ONE deterministically drawn non-matching caption (negative).
    * The negative id is a Knuth multiplicative hash of the anchor id mod
    * N, bumped by one on self-collision — uniform-ish, reproducible run
    * to run, and oracle-checkable (a production pipeline wants exactly
    * this property so the pair set is stable across re-runs). Captions
    * are the first 8 tokens (a stub for a real caption column).
    *
    * Scale: captions are a map-side projection of the text table; the
    * positive attach and the negative draw are two equi-joins keyed by
    * doc ids (co-partitioned, both sides narrow); media BYTES never
    * shuffle — only ids, types, lengths and captions move. In-batch
    * negatives at training time replace the explicit draw; this is the
    * offline-materialized variant. */
  def mediaClipPairs(s: SparkSession, dir: String): DataFrame = {
    val caps = documents(s, dir).select(col("doc_id"),
      array_join(slice(split(col("text"), " "), 1, 8), " ").as("caption"))
    val nDf = documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val media = mediaTable(s, dir).select(col("doc_id"), col("media_type"),
      octet_length(col("media")).cast("long").as("n_bytes"))
    val withNeg = media.crossJoin(broadcast(nDf))
      .withColumn("neg_raw", pmod(col("doc_id") * lit(2654435761L), col("n_docs")))
      .withColumn("neg_doc_id",
        when(col("neg_raw") === col("doc_id"),
          pmod(col("neg_raw") + 1, col("n_docs"))).otherwise(col("neg_raw")))
      .drop("neg_raw", "n_docs")
    withNeg
      .join(caps, Seq("doc_id"))
      .join(caps.select(col("doc_id").as("neg_doc_id"),
        col("caption").as("neg_caption")), Seq("neg_doc_id"))
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("caption"), col("neg_doc_id"), col("neg_caption"))
      .orderBy(col("doc_id"))
  }

  private val PhashFeatureCtes =
    """m0 AS (
      |  SELECT doc_id, lower(hex(text)) AS hx FROM documents
      |  WHERE len(text) > 0),
      |f AS (
      |  SELECT doc_id, unnest([md5(substr(hx, i * 512 + 1, 512))
      |                         FOR i IN range(0, (len(hx) + 511) // 512)])
      |    AS m
      |  FROM m0)""".stripMargin

  /** Shared CDC feature CTE chain ending in `f AS (doc_id, m)` — same
    * boundary rule and chunk fingerprints as [[cdcChunksOf]]'s compiled
    * rolling hash, replayed per-offset: the byte list B (1-based in
    * DuckDB), the degree-7 polynomial window sum with the 257^(7−j)
    * mod 1000003 coefficients, % 16 = 0 ⇒ boundary (see
    * `VectorExpressions.ContentChunks` for why the prime modulus is
    * load-bearing). Consumed by the cdc-chunk aggregate oracle AND (via
    * [[Dedup.simhash128OracleFor]]) the 128-bit perceptual-hash oracle,
    * so the two queries provably fingerprint the same chunks. CTE names
    * are cdc-prefixed to avoid colliding with the simhash oracle's
    * h/b/p chain. */
  private val CdcFeatureCtes =
    """cdcm AS (
      |  SELECT doc_id, lower(hex(text)) AS hx,
      |         CAST(len(lower(hex(text))) // 2 AS INT) AS nb
      |  FROM documents),
      |cdcby AS (
      |  SELECT doc_id, hx, nb,
      |    [CAST(('0x' || substr(hx, t * 2 + 1, 2)) AS BIGINT)
      |     FOR t IN range(nb)] AS B
      |  FROM cdcm WHERE nb >= 8),
      |cdcb AS (
      |  SELECT doc_id, hx, nb,
      |    [i FOR i IN range(8, nb + 1)
      |     IF ((B[i - 7] * 709659 + B[i - 6] * 107820 + B[i - 5] * 529604 +
      |          B[i - 4] * 457315 + B[i - 3] * 974545 + B[i - 2] * 66049 +
      |          B[i - 1] * 257 + B[i]) % 1000003) % 16 = 0]
      |      AS bounds
      |  FROM cdcby),
      |cdcsp AS (
      |  SELECT doc_id, hx,
      |    list_prepend(0, bounds) AS starts,
      |    list_append(bounds, nb) AS ends
      |  FROM cdcb),
      |f AS (
      |  SELECT doc_id,
      |    unnest([md5(substr(hx, starts[k] * 2 + 1, (ends[k] - starts[k]) * 2))
      |            FOR k IN range(1, len(starts) + 1) IF ends[k] > starts[k]])
      |      AS m
      |  FROM cdcsp)""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("multimodal_clip_pairs", mediaClipPairs _,
      """WITH caps AS (
        |  SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS caption
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |media AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |neg AS (
        |  SELECT m.doc_id, m.media_type, m.n_bytes,
        |    CASE WHEN (m.doc_id * 2654435761) % n.n_docs = m.doc_id
        |         THEN ((m.doc_id * 2654435761) % n.n_docs + 1) % n.n_docs
        |         ELSE (m.doc_id * 2654435761) % n.n_docs END AS neg_doc_id
        |  FROM media m CROSS JOIN n)
        |SELECT g.doc_id, g.media_type, g.n_bytes, p.caption,
        |  g.neg_doc_id, q.caption AS neg_caption
        |FROM neg g
        |JOIN caps p ON p.doc_id = g.doc_id
        |JOIN caps q ON q.doc_id = g.neg_doc_id
        |ORDER BY g.doc_id""".stripMargin),
    Declared("multimodal_meta", mediaMeta _,
      """WITH m AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    encode(text) AS media
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, media_type,
        |    CAST(octet_length(media) AS BIGINT) AS n_bytes,
        |    lower(substring(hex(media), 1, 8)) AS magic_hex
        |  FROM m)
        |SELECT doc_id, media_type, n_bytes, magic_hex,
        |  (n_bytes + 255) // 256 AS n_frames,
        |  array_to_string([i * 256 FOR i IN range(0, CAST(least((n_bytes + 255) // 256 - 1, 3) AS INT) + 1)], ',')
        |    AS sampled_offsets
        |FROM b ORDER BY doc_id""".stripMargin),
    Declared("multimodal_decode_stats", mediaDecodeStats _,
      """WITH d AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents)
        |SELECT media_type, count(*) AS n_media,
        |  CAST(sum(16 + (n_bytes % 113)) AS BIGINT) AS sum_width,
        |  CAST(sum(16 + ((n_bytes // 7) % 97)) AS BIGINT) AS sum_height,
        |  CAST(max(CASE WHEN media_type = 'audio' THEN 1 ELSE 3 END) AS BIGINT) AS max_channels
        |FROM d GROUP BY media_type ORDER BY media_type""".stripMargin),
    Declared("multimodal_resize_stats", mediaResizeStats _,
      """WITH d AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |wh AS (
        |  SELECT media_type,
        |    16 + (n_bytes % 113) AS w,
        |    16 + ((n_bytes // 7) % 97) AS h
        |  FROM d),
        |fit AS (
        |  SELECT media_type,
        |    greatest((w * 224) // greatest(w, h), 1) AS fit_w,
        |    greatest((h * 224) // greatest(w, h), 1) AS fit_h
        |  FROM wh)
        |SELECT media_type, count(*) AS n_media,
        |  CAST(sum(fit_w) AS BIGINT) AS sum_fit_w,
        |  CAST(sum(fit_h) AS BIGINT) AS sum_fit_h,
        |  CAST(max(greatest(fit_w, fit_h)) AS BIGINT) AS max_fit_side
        |FROM fit GROUP BY media_type ORDER BY media_type""".stripMargin),
    Declared("multimodal_nearest_neighbor", mediaNearestNeighbor _,
      """WITH f AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, media_type,
        |    [nb % 251, (nb // 7) % 251, (nb // 13) % 251, (nb // 29) % 251,
        |     nb % 127, nb % 83, nb % 61, nb % 37] AS v
        |  FROM f),
        |pairs AS (
        |  SELECT q.doc_id AS query_id, q.media_type, c.doc_id AS cand_id,
        |    CAST(abs(q.v[1]-c.v[1]) + abs(q.v[2]-c.v[2]) + abs(q.v[3]-c.v[3])
        |       + abs(q.v[4]-c.v[4]) + abs(q.v[5]-c.v[5]) + abs(q.v[6]-c.v[6])
        |       + abs(q.v[7]-c.v[7]) + abs(q.v[8]-c.v[8]) AS BIGINT) AS l1_dist
        |  FROM feat q JOIN feat c
        |    ON q.media_type = c.media_type AND q.doc_id <> c.doc_id
        |  WHERE q.doc_id < 8),
        |ranked AS (
        |  SELECT query_id, media_type, cand_id, l1_dist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY l1_dist ASC, cand_id ASC) AS rn
        |  FROM pairs)
        |SELECT query_id, media_type, cand_id, l1_dist
        |FROM ranked WHERE rn = 1 ORDER BY query_id""".stripMargin),
    Declared("multimodal_chunk_dedup", mediaChunkDedup _,
      """WITH m AS (
        |  SELECT doc_id, lower(hex(text)) AS hx FROM documents
        |  WHERE len(text) > 0),
        |c AS (
        |  SELECT doc_id, unnest([md5(substr(hx, i * 512 + 1, 512))
        |                         FOR i IN range(0, (len(hx) + 511) // 512)])
        |    AS chunk_md5
        |  FROM m)
        |SELECT chunk_md5, count(*) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM c GROUP BY chunk_md5 HAVING count(*) > 1
        |ORDER BY chunk_md5""".stripMargin),
    Declared("multimodal_cdc_chunks", mediaCdcChunks _,
      s"""WITH $CdcFeatureCtes
         |SELECT m AS chunk_md5, count(*) AS n_copies,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM f GROUP BY 1 HAVING count(*) > 1
         |ORDER BY chunk_md5""".stripMargin),
    // brute-force per-bit-majority + all-pairs hamming over the chunk
    // features (Dedup's shared oracle with the feature CTE swapped)
    Declared("multimodal_phash_dedup", mediaPhashDedup _, Dedup.simhashOracleFor(PhashFeatureCtes)),
    // 128-bit sibling over the CDC chunk features: brute-force all-pairs
    // 128-bit hamming — the banded join is exact-recall at <= 12 by
    // pigeonhole, so the brute force IS the oracle
    Declared("multimodal_phash_dedup_128", mediaPhashDedup128 _,
      Dedup.simhash128OracleFor(CdcFeatureCtes)),
  )
}
