package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.Tables._

/** Similarity search over the `embeddings` table (dim-64 float vectors).
  *
  * Oracle-parity trick: embeddings are quantized per element to integer
  * milliunits (`round(x*1000)`), so dot products and squared norms are
  * exact Long sums (order-insensitive — both engines agree bit-for-bit),
  * and cosine = dot / sqrt(double(na)*double(nb)) is a single deterministic
  * IEEE expression over identical integer operands.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set
  * against the full corpus — a map-only pass, no shuffle of the corpus;
  * per-query top-k via window over the candidate rows. The LSH variant
  * replaces the corpus scan per query with a bucket equi-join:
  * sign-random-projection buckets from 12 deterministic integer
  * hyperplanes, so candidate generation is a hash join on bucket id —
  * the shape that survives 100 TB (bucket count scales with corpus).
  */
object Similarity {

  /** Quantized embedding: array<long> milliunits. The float→double cast
    * is EXPLICIT on both sides (here and the oracle's qElems): `x * 1000`
    * on a float element is float math in DuckDB but double math in Spark,
    * and a raw float within one ulp of a .5 boundary rounds differently
    * under the two (first hit: sf0.1 vec 1879 elem 18, 0.3195f → float
    * 319.5 → 320 vs double 319.4999… → 319 — surfaced by the r7 sf0.1
    * oracle sweep as a one-cell k-means inertia mismatch). */
  private val quantize =
    expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")

  /** Native codegen'd dot product (graft.functions.VectorExpressions) —
    * same left-to-right Long math as the `zip_with`+`aggregate` HOF form
    * (kept in SimilaritySpec as the equivalence oracle) but ~10× faster:
    * HOF lambdas evaluate interpreted per element. */
  private def dot(a: String, b: String) =
    graft.functions.VectorExpressions.dotLongs(col(a), col(b))

  /** Brute-force cosine top-5 per query (queries = vec_id < 8). */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
      .select(col("vec_id"), col("q"), dot("q", "q").as("norm2"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qe"), col("norm2").as("qn"))
    val cand = e.select(col("vec_id").as("cand_id"), col("q").as("ce"), col("norm2").as("cn"))
    val scored = cand.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qe", "ce").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("query_id"), col("rn").cast("long").as("rn"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  private val Tables = 8 // hash tables
  private val Planes = 4 // sign bits per table

  /** Build-time parameter stamps for the stored indexes
    * (`Indexes.materializedIndexStamped`): the frozen hyperparameters
    * each index's per-vector rows were computed under — exactly what
    * `Indexes.isStale` compares against the calibrator's current answer
    * to detect a decade crossing. */
  private[graft] def lshIndexParams: Map[String, Long] =
    Map("srp_tables" -> Tables.toLong, "srp_planes" -> Planes.toLong)
  private[graft] def ivfIndexParams: Map[String, Long] =
    Map("ivf_probes" -> 2L)
  // k shared between buildKnnGraph's top-k filter and the stored
  // knngraph stamp (r16 review: an inline 5 in each would let the
  // stamp and the build disagree — the exact hole stamps close)
  private[graft] val KnnK = 5
  private[graft] def knnIndexParams: Map[String, Long] =
    Map("knn_k" -> KnnK.toLong)

  /** Multi-table LSH signature design: bucket for table t = 4 sign bits
    * from deterministic ±1 hyperplanes (LCG-parity weights — pure integer
    * arithmetic both engines reproduce exactly). A candidate matches if
    * it shares the query's bucket in ANY table — on weakly-clustered data
    * (this fixture is near-random, top-5 cosine ≈ 0.32) a single long
    * signature has ~0 recall, while 8 tables × 4 bits gives
    * P(candidate) = 1−(1−p_bit⁴)⁸ ≈ 0.67 at p_bit ≈ 0.6.
    *
    * All 32 plane sums are computed by ONE codegen'd pass over the vector
    * (`SignRandomProjection` — the round-1 interpreted `zip_with`+
    * `aggregate` per plane was the slowest query in the bench). This is
    * the INDEX BUILDER: its output is materialized to parquet once per
    * corpus by `Indexes.lshSignatures` and every consumer (bucket
    * histogram, ANN probe, recall report) scans the stored relation —
    * build once, probe many, the production ANN-index lifecycle.
    *
    * (vec_id, q, norm2, buckets: array<long>) — one row per vector. */
  private[graft] def buildLshSignatures(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
      .select(col("vec_id"), col("q"), dot("q", "q").as("norm2"),
        graft.functions.VectorExpressions
          .signBuckets(col("q"), Tables, Planes, 64).as("buckets"))

  /** Exploded view of a signature relation: one row per (vector, hash
    * table) — a map-side posexplode over the parquet scan. */
  private def bucketedFrom(sig: DataFrame): DataFrame =
    sig
      .select(col("vec_id"), col("q"), col("norm2"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      .select(col("vec_id"), col("q"), col("norm2"),
        col("tbl").cast("long").as("tbl"), col("bucket"))

  private def bucketed(s: SparkSession, dir: String): DataFrame =
    bucketedFrom(Indexes.lshSignatures(s, dir))

  /** Corpus histogram over LSH buckets per table (the data layout a
    * bucketed ANN index persists — bucket skew is what to watch at scale). */
  def lshBuckets(s: SparkSession, dir: String): DataFrame =
    bucketed(s, dir)
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("tbl"), col("bucket"))

  /** ANN top-3 per query via multi-table bucket equi-join: candidates
    * share the query's bucket in any table (dedup across tables); exact
    * cosine only on candidates. Recall vs brute force is checked in
    * SimilaritySpec. */
  def lshAnnTopK(s: SparkSession, dir: String): DataFrame =
    lshAnnTopKFrom(Indexes.lshSignatures(s, dir))

  /** Probe core over an arbitrary signature relation — the seam the
    * index append/refresh motion exercises (IndexRefreshSpec: probes of
    * a base+batch MERGED index are row-identical to a full rebuild's,
    * because signatures are per-vector artifacts of frozen
    * hyperplanes). */
  private[graft] def lshAnnTopKFrom(sig: DataFrame): DataFrame = {
    val b = bucketedFrom(sig)
    val queries = b.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qe"),
        col("norm2").as("qn"), col("tbl"), col("bucket"))
    val cands = b.select(col("vec_id").as("cand_id"), col("q").as("ce"),
      col("norm2").as("cn"), col("tbl"), col("bucket"))
    val scored = cands.join(broadcast(queries), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qe"), col("ce"),
        col("qn"), col("cn"))
      .dropDuplicates("query_id", "cand_id")
      .select(col("query_id"), col("cand_id"),
        (dot("qe", "ce").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("query_id"), col("rn").cast("long").as("rn"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** IVF (inverted-file) ANN — the other scale path besides LSH: assign
    * every vector to its nearest "cell" (centroid), probe only the
    * query's top-2 cells, exact cosine on the cell members. Cells are the
    * per-label centroid SUM vectors (exact Longs — no k-means iterations
    * needed for a deterministic, oracle-checkable index); cell affinity
    * = dot(v, S_cell)/sqrt(|S_cell|²), a deterministic double over exact
    * integer operands, ties → lowest label. At 100 TB: assignment is a
    * broadcast cross of each vector with K centroid rows (map-only), the
    * probe is an equi-join on cell id — candidates per query shrink by
    * ~K/probes. */
  /** Shared IVF core: every vector row with its per-cell affinity array
    * and the argmax cell. Cells are per-label centroid SUM vectors
    * (exact Longs); affinity = dot(v, S_cell)/sqrt(|S_cell|²).
    *
    * Cell assignment is MAP-SIDE: every vector row carries the single
    * broadcast array of all K cells and takes the argmax per row via
    * array_max over (score, -cell) structs — max score, ties → lowest
    * cell, matching the oracle's ORDER BY score DESC, cell ASC. The
    * round-1 form exploded corpus×K affinity rows through a
    * Window.partitionBy(vec_id) — a full corpus shuffle just to argmax
    * over K=10 values. Zero Exchange keyed by vec_id remains (asserted
    * in PlanSpec); the only shuffles left are the K-row cell build.
    *
    * Columns: (vec_id, q, norm2, aff, best). */
  private def ivfWithBest(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("label"), quantize.as("q"))
      .select(col("vec_id"), col("label"), col("q"), dot("q", "q").as("norm2"))
    // cell centroid sums: exact per-dim Long sums per label
    val cellSums = e.select(col("label"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("s"))
    val cells = cellSums.groupBy(col("label").as("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, s))), x -> x.s)").as("cs"))
      .select(col("cell"), col("cs"),
        graft.functions.VectorExpressions.dotLongs(col("cs"), col("cs")).as("ss"))
    val cellsArr = cells
      .agg(collect_list(struct(col("cell"), col("cs"), col("ss"))).as("cells"))
    e.crossJoin(broadcast(cellsArr))
      .withColumn("aff", transform(col("cells"), c =>
        struct(
          (graft.functions.VectorExpressions.dotLongs(col("q"), c.getField("cs"))
            .cast("double") / sqrt(c.getField("ss").cast("double"))).as("score"),
          (-c.getField("cell")).as("negcell"))))
      .withColumn("best", array_max(col("aff")))
      .drop("cells", "label")
  }

  /** IVF INDEX BUILDER: one row per vector with its nearest (`cell`) and
    * second-nearest (`cell2`) centroid — the 2-probe set — plus the
    * quantized vector and norm the exact re-rank needs. Materialized to
    * parquet once per corpus by `Indexes.ivfAssignments`; the ANN probe,
    * SemDeDup, and the recall report all scan the stored relation.
    * (vec_id, q, norm2, cell, cell2). */
  private[ops] def buildIvfAssignments(s: SparkSession, dir: String): DataFrame = {
    val withBest = ivfWithBest(s, dir)
    // second-best cell, map-side: argmax of the affinities minus the best
    val second = array_max(filter(col("aff"), x => !(x === col("best"))))
    // cell keeps the label's native int type: `dedup_semantic` surfaces
    // it in its output schema and the oracle's is int32
    withBest.select(col("vec_id"), col("q"), col("norm2"),
      (-col("best.negcell")).as("cell"),
      (-second.getField("negcell")).as("cell2"))
  }

  def ivfAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = Indexes.ivfAssignments(s, dir)
    val assign = idx
      .select(col("vec_id").as("cand_id"), col("q").as("ce"),
        col("norm2").as("cn"), col("cell"))
    // probe cells for the (tiny) query set: best + second-best from the
    // stored assignment — no affinity recomputation at query time
    val probes = idx.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qe"),
        col("norm2").as("qn"),
        explode(array(col("cell"), col("cell2"))).as("cell"))
    val scored = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qe", "ce").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("query_id"), col("rn").cast("long").as("rn"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  private val SemTau = 0.3

  /** Test hook (MiningSpec): the (vec_id, cell) assignment SemDeDup
    * clusters by — lets the spec recompute within-cell pairs naively
    * without re-deriving the IVF argmax. */
  def dedupSemanticAssignment(s: SparkSession, dir: String): DataFrame =
    Indexes.ivfAssignments(s, dir).select(col("vec_id"), col("cell"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * corpus, then look for near-duplicate pairs ONLY within a cluster —
    * the approximation that turns O(n²) semantic dedup into
    * sum-over-cells O(Σ|cell|²). Clustering here is the deterministic
    * IVF cell assignment ([[ivfWithBest]]); within a cell, a vector is
    * DROPPED when a lower-id member sits at cosine ≥ τ (the paper keeps
    * one representative per ε-ball; min-id is the deterministic,
    * oracle-checkable choice of representative). Output: one row per
    * dropped vector with its representative and the tightest duplicate.
    *
    * Scale: the paper's production setting is K ≈ 10⁵ clusters over
    * ~10⁹ embeddings, keeping |cell| ≈ 10⁴ — the within-cell self-join
    * is an equi-join on cell id (hash-partitioned both sides, never
    * all-pairs), and cell granularity is the knob that bounds the
    * quadratic term. Cross-cell near-dups are missed BY DESIGN — that
    * is SemDeDup's documented recall trade. */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    // both sides of the self-join scan the STORED cell-assignment index
    // (Indexes.ivfAssignments) — built once per corpus, shared with the
    // ANN probe and the recall report
    val assign = Indexes.ivfAssignments(s, dir)
      .select(col("vec_id"), col("q"), col("norm2"), col("cell"))
    val a = assign.select(col("cell"), col("vec_id").as("a_id"),
      col("q").as("qa"), col("norm2").as("na"))
    val b = assign.select(col("cell"), col("vec_id").as("b_id"),
      col("q").as("qb"), col("norm2").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("cell"), col("a_id"), col("b_id"),
        (dot("qa", "qb").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))).as("cosine"))
      .filter(col("cosine") >= SemTau)
      .groupBy(col("b_id").as("vec_id"), col("cell"))
      .agg(min(col("a_id")).as("dup_of"), max(col("cosine")).as("max_cosine"),
        count(lit(1)).as("n_dups"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine near-duplicate pairs — the last dedup modality:
    * pairs with exact quantized cosine ≥ 0.4, query side restricted to
    * vec_id < 200 (broadcast), corpus side map-only — the same
    * never-shuffle-the-corpus shape as `cosineTopK`. This is the EXACT
    * verification pass of an embedding-dedup pipeline; at full-corpus ×
    * full-corpus scale the candidate set comes from the sign-LSH bucket
    * join above (sign-LSH recall at a cosine threshold is < 1, so a
    * bucketed variant is approximate by construction — the exact-τ pair
    * set needs this verify pass, which is why production pipelines run
    * LSH candidates + exact re-check, exactly as `dedupMinhashLsh`
    * does for Jaccard). */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
      .select(col("vec_id"), col("q"), dot("q", "q").as("norm2"))
    val queries = e.filter(col("vec_id") < 200)
      .select(col("vec_id").as("a_id"), col("q").as("qa"), col("norm2").as("na"))
    val cand = e.select(col("vec_id").as("b_id"), col("q").as("qb"),
      col("norm2").as("nb"))
    cand.crossJoin(broadcast(queries))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dot("qa", "qb").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** K-means (Lloyd's algorithm), 2 iterations, K = 8 deterministic
    * seeds (the quantized vectors with vec_id < 8) — the iterative
    * clustering workload a training-data pipeline runs to cluster an
    * embedding corpus (topic balancing, hard-negative mining). Per
    * iteration the plan has exactly the 100 TB shape:
    *  - ASSIGNMENT is map-only — every vector row carries the single
    *    broadcast K-cell array and takes argmin of the exact integer
    *    squared distance d²(x,c) = |x|² + |c|² − 2⟨x,c⟩ via `array_min`
    *    over (d2, cell) structs (ties → lowest cell, same trick as
    *    `ivfAnnTopK`; the corpus is never shuffled for assignment);
    *  - the UPDATE step's only shuffle is the narrow (cell, dim, Σv, n)
    *    partial-agg — 64·K cells of state, independent of corpus size.
    * Exactness for the oracle: quantized-long coordinates make d² an
    * exact integer; updated centroids are floor(Σv/n) per dimension
    * (floor over an exact-in-double ratio — both engines agree), so
    * iteration 2's distances are again exact integers. Output: per-cell
    * membership count and total inertia after the second assignment —
    * the convergence metrics a production job logs per round. */
  def kmeansCells(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
      .select(col("vec_id"), col("q"), dot("q", "q").as("n2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("q").as("cv"), col("n2").as("cn"))
    def assign(cells: DataFrame): DataFrame = {
      val cellsArr = cells
        .agg(collect_list(struct(col("cell"), col("cv"), col("cn"))).as("cells"))
      e.crossJoin(broadcast(cellsArr))
        .withColumn("best", array_min(transform(col("cells"), c =>
          struct(
            (col("n2") + c.getField("cn") -
              lit(2L) * graft.functions.VectorExpressions
                .dotLongs(col("q"), c.getField("cv"))).as("d2"),
            c.getField("cell").as("cell")))))
        .select(col("vec_id"), col("q"),
          col("best.cell").as("cell"), col("best.d2").as("d2"))
    }
    val a1 = assign(seeds)
    val updated = a1
      .select(col("cell"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("cell"), col("dim"))
      .agg(floor(sum(col("qv")) / count(lit(1))).cast("long").as("cvi"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, cvi))), x -> x.cvi)")
        .as("cv"))
      .select(col("cell"), col("cv"),
        graft.functions.VectorExpressions.dotLongs(col("cv"), col("cv")).as("cn"))
    assign(updated)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
      .orderBy(col("cell"))
  }

  /** ANN index quality report — recall@3 of the three approximate
    * methods (LSH buckets, IVF cells, IVF+PQ ADC) against the exact
    * brute-force top-3, as a
    * declared query: the evaluation a production pipeline runs before
    * trusting an index, and re-runs whenever the corpus drifts. Every
    * branch is the already-oracled pipeline (same cosines, same
    * tie-breaks), so the recall NUMBERS are value-checkable — integer
    * hit counts and one double division. At 100 TB the truth set is
    * computed over a sampled query set exactly as here (vec_id < 8);
    * recall estimation never needs the full all-pairs truth. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = cosineTopK(s, dir).filter(col("rn") <= 3)
      .select(col("query_id"), col("cand_id"))
      // four consumers (hits + denominator, per method): one brute pass
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def recallOf(method: String, got: DataFrame): DataFrame = {
      val hits = truth
        .join(got.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"))
        .agg(count(lit(1)).as("n_hit"))
      val rel = truth.agg(count(lit(1)).as("n_relevant"))
      hits.crossJoin(broadcast(rel))
        .select(lit(method).as("method"), col("n_relevant"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_relevant").cast("double"))
            .as("recall"))
    }
    recallOf("ivf", ivfAnnTopK(s, dir))
      .unionAll(recallOf("ivfpq", ivfPqAnnTopK(s, dir)))
      .unionAll(recallOf("lsh", lshAnnTopK(s, dir)))
      .orderBy(col("method"))
  }

  // ---- Product quantization (PQ-ADC, Jégou et al. TPAMI 2011) ---------
  //
  // The memory side of the IVF story: each vector is compressed to M=4
  // sub-codes (one codebook of K=8 centroids per 16-dim subspace, trained
  // by the same exact-integer one-Lloyd-round recipe as `kmeansCells`),
  // and query-to-candidate distance is then a TABLE LOOKUP, not
  // arithmetic: the query precomputes its distance to every (subspace,
  // centroid) once — an M×K LUT — and a candidate's ADC distance is the
  // sum of M array reads indexed by its codes.
  //
  // Index lifecycle (build once / probe many, the Faiss layout): the
  // TRAINED CODEBOOK (`buildPqCodebook` → Indexes.pqCodebook, M×K rows)
  // and the PER-VECTOR CODES co-located with their IVF cell
  // (`buildPqCodes` → Indexes.pqCodes — exactly the Faiss-IVFPQ
  // inverted-list entry (cell, id, codes)) are materialized parquet
  // artifacts; queries scan them and never re-train or re-encode.
  //
  // Exactness: subspace d² identities (x·x + c·c − 2x·c), floor-mean
  // centroid updates, and LUT sums are all Long math — both engines
  // agree bit-for-bit; ties break by (d², cell) / (adc_d2, cand_id).

  private val PqM = 4; private val PqSub = 16; private val PqK = 8

  /** Stamp for the PQ artifacts (codebook + codes) — see
    * [[lshIndexParams]]. */
  private[graft] def pqIndexParams: Map[String, Long] =
    Map("pq_m" -> PqM.toLong, "pq_sub" -> PqSub.toLong, "pq_k" -> PqK.toLong)

  /** Subvector view of a quantized corpus: one row per (vector,
    * subspace) — (vec_id, m, x: array<long>, xn = x·x). Map-side
    * explode of M fixed slices; no shuffle. */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(CAST(m AS BIGINT) AS m, slice(q, m*$PqSub+1, $PqSub) AS x))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.x").as("x"))
      .withColumn("xn", dot("x", "x"))

  /** Nearest centroid per (vec, m) against a broadcast codebook —
    * map-side argmin over the K cells, ties → lowest cell. */
  private def pqAssign(sv: DataFrame, codebook: DataFrame): DataFrame = {
    val perM = codebook
      .groupBy(col("m"))
      .agg(collect_list(struct(col("cell"), col("cv"), col("cn"))).as("cells"))
    sv.join(broadcast(perM), Seq("m"))
      .withColumn("best", array_min(transform(col("cells"), c =>
        struct(
          (col("xn") + c.getField("cn") - lit(2L) *
            graft.functions.VectorExpressions
              .dotLongs(col("x"), c.getField("cv"))).as("d2"),
          c.getField("cell").as("cell")))))
      .select(col("vec_id"), col("m"), col("best.cell").as("code"))
  }

  /** PQ CODEBOOK BUILDER (index artifact): deterministic seeds
    * (vec_id < K per subspace) + ONE Lloyd round of floor-mean updates.
    * (m, cell, cv: array<long>, cn = cv·cv) — M×K rows, broadcast-sized
    * at any corpus scale (training at 100 TB runs on a sample; the
    * fixture trains on the full corpus for oracle determinism).
    * Materialized by `Indexes.pqCodebook`. */
  private[ops] def buildPqCodebook(s: SparkSession, dir: String): DataFrame = {
    val sv = pqSubvectors(embeddings(s, dir).select(col("vec_id"), quantize.as("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = sv.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cell"), col("x").as("cv"), col("xn").as("cn"))
    pqAssign(sv, seeds)
      .join(sv, Seq("vec_id", "m"))
      .select(col("m"), col("code").as("cell"), posexplode(col("x")).as(Seq("dim", "qv")))
      .groupBy(col("m"), col("cell"), col("dim"))
      .agg(floor(sum(col("qv")) / count(lit(1))).cast("long").as("cvi"))
      .groupBy(col("m"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, cvi))), x -> x.cvi)")
        .as("cv"))
      .select(col("m"), col("cell"), col("cv"),
        graft.functions.VectorExpressions.dotLongs(col("cv"), col("cv")).as("cn"))
  }

  /** PQ CODES BUILDER (index artifact): every vector's M codes against
    * the STORED codebook, co-located with its IVF cell — (vec_id, cell,
    * codes: array<long>), exactly the Faiss-IVFPQ inverted-list entry.
    * The cell join is the one corpus-size shuffle and it happens at
    * INDEX BUILD time, never at query time. Materialized by
    * `Indexes.pqCodes`. */
  private[ops] def buildPqCodes(s: SparkSession, dir: String): DataFrame = {
    val sv = pqSubvectors(embeddings(s, dir).select(col("vec_id"), quantize.as("q")))
    pqAssign(sv, Indexes.pqCodebook(s, dir))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), x -> x.code)")
        .as("codes"))
      .join(Indexes.ivfAssignments(s, dir).select(col("vec_id"), col("cell")),
        Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  /** Per-query dense M×K ADC LUTs from the STORED codebook:
    * (query_id, lut: array<array<long>>). Query subvectors (tiny —
    * filter pushed below the explode) × the broadcast M×K codebook;
    * ld2 = x·x + c·c − 2x·c per (subspace, centroid). */
  private def pqLuts(s: SparkSession, dir: String): DataFrame =
    pqSubvectors(embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
        .filter(col("vec_id") < PqK))
      .join(broadcast(Indexes.pqCodebook(s, dir)), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cell"),
        (col("xn") + col("cn") -
          lit(2L) * dot("x", "cv")).as("ld2"))
      .groupBy(col("query_id"), col("m"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("ld2")))).as("mp"))
      .select(col("query_id"), col("m"),
        expr(s"transform(sequence(0, ${PqK - 1}), " +
          // try_element_at: under ANSI mode (this engine's default) a plain
          // element_at on a missing map key throws before coalesce can run;
          // the try_ variant yields NULL so the sentinel genuinely applies
          // when a seed cell loses all members.
          s"c -> coalesce(try_element_at(mp, CAST(c AS BIGINT)), ${Long.MaxValue}L))")
          .as("larr"))
      .groupBy(col("query_id"))
      .agg(expr("transform(array_sort(collect_list(struct(m, larr))), x -> x.larr)")
        .as("lut"))

  /** ADC distance of a candidate's `codes` against a query's `lut`:
    * Σ_m lut[m][code_m] — M array reads, no arithmetic on vectors.
    * Sentinel cells are provably never read: codes only name surviving
    * cells. */
  private val adcExpr =
    s"aggregate(sequence(0, ${PqM - 1}), 0L, (acc, m) -> " +
      "acc + element_at(element_at(lut, m+1), " +
      "CAST(element_at(codes, m+1) + 1 AS INT)))"

  /** Exhaustive PQ-ADC top-3 per query with exact re-rank: broadcast
    * LUTs, map-side ADC scan over the STORED codes index (the corpus
    * never shuffles for scoring — the Faiss IndexPQ scan shape), top-3
    * per query by ADC, then the standard exact-distance re-rank emitted
    * as `true_d2` beside `adc_d2`. This query keeps the scan exhaustive
    * so the oracle covers every candidate; `ivfPqAnnTopK` is the
    * cell-restricted production composition. */
  def pqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    val codes = Indexes.pqCodes(s, dir).select(col("vec_id"), col("codes"))
    val adc = codes.crossJoin(broadcast(pqLuts(s, dir)))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        expr(adcExpr).as("adc_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("cand_id").asc)
    val top = adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
    // exact re-rank distances for the selected pairs only
    val e = embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
    val full = e.select(col("vec_id"), col("q"), dot("q", "q").as("n2"))
    top
      .join(full.select(col("vec_id").as("query_id"), col("q").as("qx"),
        col("n2").as("qn")), Seq("query_id"))
      .join(full.select(col("vec_id").as("cand_id"), col("q").as("cx"),
        col("n2").as("cn")), Seq("cand_id"))
      .select(col("query_id"), col("rn"), col("cand_id"), col("adc_d2"),
        (col("qn") + col("cn") - lit(2L) * dot("qx", "cx")).as("true_d2"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** IVF+PQ ANN — THE production composition (Faiss IndexIVFPQ; Jégou
    * et al. 2011 §V): restrict the ADC scan to the query's probed IVF
    * cells, score survivors by table lookup, exact re-rank the top-3.
    * Both halves are STORED indexes: probe cells come from
    * `Indexes.ivfAssignments` (best + second-best cell per vector, the
    * 2-probe set) and candidate codes from `Indexes.pqCodes` (codes
    * co-located with their cell — the inverted-list layout), so query
    * time is: scan the codes index, broadcast-join the ≤2·|queries|
    * probe rows on cell, broadcast-join the per-query LUTs, sum M
    * lookups per survivor — zero corpus shuffles, zero re-training,
    * zero re-encoding.
    *
    * At 100 TB this is the only ANN plan that runs: the exhaustive ADC
    * scan touches every vector (bandwidth-bound), while the cell
    * restriction cuts candidates by ~K/probes and the inverted-list
    * co-location means the scan reads only the probed cells' files once
    * the index is partitioned by cell (partition pruning on the cell
    * column — the layout knob `Layout.scala` demonstrates).
    *
    * Exactness: candidates per (query, cand) are unique by construction
    * (each vector lives in exactly one cell; the 2 probe cells are
    * distinct), ADC sums are exact Longs, ties break (adc_d2, cand_id);
    * re-rank emits `true_d2` beside `adc_d2` like `pqAdcTopK`. */
  def ivfPqAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val ivf = Indexes.ivfAssignments(s, dir)
    // 2-probe set for the query vectors: best + second-best stored cell
    val probes = ivf.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("query_id"),
        explode(array(col("cell"), col("cell2"))).as("cell"))
    // inverted-list scan restricted to probed cells (broadcast restrict)
    val cands = Indexes.pqCodes(s, dir)
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
    val adc = cands.join(broadcast(pqLuts(s, dir)), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), expr(adcExpr).as("adc_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("cand_id").asc)
    val top = adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
    // exact re-rank from the stored IVF index (it carries q and norm2 —
    // no second embeddings scan)
    val full = ivf.select(col("vec_id"), col("q"), col("norm2"))
    top
      .join(full.select(col("vec_id").as("query_id"), col("q").as("qx"),
        col("norm2").as("qn")), Seq("query_id"))
      .join(full.select(col("vec_id").as("cand_id"), col("q").as("cx"),
        col("norm2").as("cn")), Seq("cand_id"))
      .select(col("query_id"), col("rn"), col("cand_id"), col("adc_d2"),
        (col("qn") + col("cn") - lit(2L) * dot("qx", "cx")).as("true_d2"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Per-label centroid, element-wise: posexplode → one shuffle keyed by
    * (label, dim). Exact integer sums; centroid as double. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(col("label"), posexplode(quantize).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg((sum(col("qv")).cast("double") / (count(lit(1)) * 1000).cast("double"))
        .as("centroid"), count(lit(1)).as("n_vectors"))
      .orderBy(col("label"), col("dim"))

  /** Principal-component extraction for the embedding corpus as ONE
    * Gram-matrix pass + deterministic integer power iteration — the
    * PCA/whitening front-end an ANN/clustering pipeline runs before
    * indexing (decorrelate, then rotate — e.g. the OPQ preprocessing
    * step for PQ codebooks). The 100 TB shape is the whole point: the
    * corpus is read ONCE by a typed `GramMatrix` Aggregator (map-side
    * partial, exact Long sums of the quantized outer products); every
    * downstream step — two power-iteration matrix·vector products, the
    * Rayleigh-quotient estimate — runs on the constant dim² = 4096-row
    * relation with broadcast joins, never touching the corpus again.
    *
    * Exactness: quantized q = round(x·1000) (the engine's standing
    * embedding convention), G exact Longs; each iteration rescales the
    * iterate to max |v| ≈ 1000 by INTEGER division (deterministic, no
    * float norm), so products stay in Long range (|G|·1000·64 ≲ 5e18 at
    * sf0.1); the Rayleigh quotient λ₁ ≈ (v₁q·Gv₁q)/(v₁q·v₁q) casts each
    * Long product to decimal(38,0) BEFORE summing (the 64-term sum can
    * exceed Long) and spends exactly ONE IEEE division. Sign is pinned
    * by the all-ones start vector — no eigenvector sign ambiguity.
    * Output: (i, eig_q, lambda1) — the quantized dominant eigenvector
    * and its eigenvalue estimate (two iterations; production runs the
    * same constant-size loop to convergence and deflates for the next
    * component). */
  def similarityPcaGram(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    import s.implicits._
    val gramArr = embeddings(s, dir)
      .select(col("embedding")).as[Array[Float]]
      .select(new graft.functions.Aggregators.GramMatrix(dim).toColumn)
      .toDF("g")
    // persist the dim²-row relation: every downstream step (v1, v2, the
    // Rayleigh join, the output projection) re-references it, and an
    // unpersisted DAG would re-run the corpus Gram pass once per
    // reference (measured: 11 embeddings scans) — with the cache the
    // corpus is read exactly once
    val gram = gramArr
      .select(posexplode(col("g")).as(Seq("p", "g")))
      .select(expr(s"p div $dim").as("i"), expr(s"p % $dim").as("j"), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // iteration 1: v1 = G·1, rescaled to ~[-1000, 1000] by integer div
    val v1 = gram.groupBy(col("i")).agg(sum(col("g")).as("v1"))
    val m1 = v1.agg(max(abs(col("v1"))).as("m1"))
    val v1q = v1.crossJoin(broadcast(m1))
      .select(col("i").as("j"), expr("v1 div greatest(1L, m1 div 1000L)").as("vq1"))
    // iteration 2: v2 = G·v1q (exact Longs; see headroom note above)
    val v2 = gram.join(broadcast(v1q), Seq("j"))
      .groupBy(col("i")).agg(sum(col("g") * col("vq1")).as("v2"))
    val m2 = v2.agg(max(abs(col("v2"))).as("m2"))
    // Rayleigh quotient at v1q: λ = (v1q·v2)/(v1q·v1q), decimal-safe
    val ray = v2.join(broadcast(v1q.withColumnRenamed("j", "i")), Seq("i"))
      .agg(sum((col("vq1") * col("v2")).cast("decimal(38,0)")).as("num"),
        sum((col("vq1") * col("vq1")).cast("decimal(38,0)")).as("den"))
      .select(when(col("den") === 0, lit(0.0))
        .otherwise(col("num").cast("double") / col("den").cast("double"))
        .as("lambda1"))
    v2.crossJoin(broadcast(m2)).crossJoin(broadcast(ray))
      .select(col("i"),
        expr("v2 div greatest(1L, m2 div 1000L)").as("eig_q"),
        col("lambda1"))
      .orderBy(col("i"))
  }

  /** Projection of every embedding onto the learned dominant component
    * — the APPLY half of [[similarityPcaGram]] (score each vector along
    * the axis of maximum variance, the first step of a whitening rotate
    * or a one-dimensional curriculum/diversity signal), aggregated per
    * label so the readout doubles as a separation diagnostic. The
    * component (64 rows) broadcasts; the projection is one map-side
    * exact-integer dot per vector (|q|·|eig|·dim ≤ 6.4e7 — no overflow
    * anywhere near); one (vec, label) aggregate then a label rollup.
    * Production materializes the component once (the `Indexes` motion)
    * instead of re-deriving it per query, as here for declarativity. */
  def similarityPcaProject(s: SparkSession, dir: String): DataFrame = {
    val eig = similarityPcaGram(s, dir).select(col("i"), col("eig_q"))
    val qe = embeddings(s, dir).select(col("vec_id"), col("label"),
      posexplode(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .as(Seq("i", "v")))
    qe.join(broadcast(eig), Seq("i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("v") * col("eig_q")).as("proj"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), min(col("proj")).as("min_proj"),
        max(col("proj")).as("max_proj"), sum(col("proj")).as("sum_proj"))
      .withColumn("avg_proj",
        col("sum_proj").cast("double") / col("n").cast("double"))
      .orderBy(col("label"))
  }

  /** Matryoshka-truncation evaluation — recall@5 of PREFIX-dimension
    * cosine top-5 (dims 8/16/32) against the full-64-dim truth, per the
    * MRL deployment question: how few leading dimensions does this
    * corpus need before ANN quality collapses? (Kusupati et al. 2022
    * train embeddings so prefixes are usable; this measures whether a
    * given corpus's vectors have that property.) Each dim is the same
    * broadcast map-only scan as `similarity_cosine_topk` over `slice`d
    * arrays — truncation costs a narrower dot product, nothing else; at
    * 100 TB the 8-dim pass reads 1/8 the vector bytes, which is the
    * entire point of shipping truncated embeddings. Exact-integer dots
    * on the quantized prefixes keep the whole report oracle-replayable. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
    def topk(d: Int): DataFrame = {
      val t = e.select(col("vec_id"), expr(s"slice(q, 1, $d)").as("qd"))
        .select(col("vec_id"), col("qd"), dot("qd", "qd").as("n2"))
      val qs = t.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("qd").as("qe"), col("n2").as("qn"))
      val cand = t.select(col("vec_id").as("cand_id"), col("qd").as("ce"),
        col("n2").as("cn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("cand_id").asc)
      cand.crossJoin(broadcast(qs))
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          (dot("qe", "ce").cast("double") /
            sqrt(col("qn").cast("double") * col("cn").cast("double"))).as("cosine"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(lit(d.toLong).as("dim"), col("query_id"), col("cand_id"))
    }
    val truth = topk(64).select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
    Seq(8, 16, 32).map(topk).reduce(_ unionByName _)
      .join(broadcast(truth), Seq("query_id", "cand_id"), "left")
      .groupBy(col("dim"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("dim"), col("n_hits"),
        (col("n_hits").cast("double") / lit(40.0)).as("recall"))
      .orderBy(col("dim"))
  }

  /** Mutual k-NN graph (k = 5) over the embedding corpus — the offline
    * building block SemDeDup-style semantic curation, graph clustering,
    * and NN-descent all consume: an undirected edge (a, b) exists iff
    * each vector ranks the other in its cosine top-k. Mutuality is the
    * standard symmetrization that strips hub vectors (a hub appears in
    * thousands of top-k lists but reciprocates only k of them).
    *
    * Declared query pins EXACT semantics at fixture scale (all-pairs
    * scored via the codegen'd integer dot on the broadcast 500-vector
    * side, per-node window top-k, self-join on reversed (a,b) for
    * mutuality). At 100 TB the all-pairs stage is replaced by the stored
    * ANN index this module already maintains — IVF probe cells
    * ([[ivfAnnTopK]]) or LSH bands ([[lshAnnTopK]]) generate candidates,
    * the SAME window + mutual join run downstream; the edge relation is
    * k·n rows hash-partitioned on the key, never materialized all-pairs.
    * Ranks ride the single-long trick nowhere here — cosine doubles are
    * deterministic (IEEE divide/sqrt over exact integer dots/norms), so
    * the rank window agrees bit-for-bit cross-engine.
    *
    * Served from the MATERIALIZED stored index ([[Indexes.knnGraphEdges]])
    * — a kNN graph is a build-once/probe-many artifact like the LSH
    * signatures and PQ codes, and the recall report reuses the same
    * stored build instead of re-scoring all pairs. */
  def similarityKnnGraph(s: SparkSession, dir: String): DataFrame =
    Indexes.knnGraphEdges(s, dir).orderBy(col("a_id"), col("b_id"))

  /** The builder behind the stored index. */
  private[graft] def buildKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), quantize.as("q"))
      .select(col("vec_id"), col("q"), dot("q", "q").as("n2"))
    val l = e.select(col("vec_id").as("a_id"), col("q").as("aq"), col("n2").as("an"))
    val r = e.select(col("vec_id").as("b_id"), col("q").as("bq"), col("n2").as("bn"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    val ranked = l.crossJoin(broadcast(r))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dot("aq", "bq").cast("double") /
          sqrt(col("an").cast("double") * col("bn").cast("double"))).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KnnK)
      .select(col("a_id"), col("b_id"), col("rn").cast("long").as("rn"), col("cosine"))
      // consumed twice below (both join sides): persist the k·n edge
      // relation, not the all-pairs subtree behind it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked.as("x")
      .join(ranked.as("y"),
        col("x.a_id") === col("y.b_id") && col("x.b_id") === col("y.a_id"))
      .filter(col("x.a_id") < col("x.b_id"))
      .select(col("x.a_id").as("a_id"), col("x.b_id").as("b_id"),
        col("x.rn").as("rank_ab"), col("y.rn").as("rank_ba"),
        col("x.cosine").as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Recall of the LSH-candidate mutual k-NN graph against the exact
    * one — the [[annRecall]] evaluation discipline applied to
    * [[similarityKnnGraph]]'s scale path (candidates from shared
    * (table, bucket) membership, per-node top-k among candidates only,
    * symmetrize).
    *
    * The engine side exploits a provable collapse: an exact mutual edge
    * (a, b) survives in the LSH graph IFF the pair shares a bucket.
    * (If it does, every candidate of a ranked above b — cosine higher,
    * or equal with smaller id — has exact rank < rank_ab ≤ 5, so b's
    * among-candidates rank is ≤ 5 automatically; symmetrically for a;
    * and bucket sharing is symmetric.) So recall needs ZERO candidate
    * scoring: the stored exact edges semi-join the candidate id-pair
    * set — no 64-dim dot per candidate, the heavy leg drops from
    * Σ|bucket|² dot products to an id join. The ORACLE deliberately
    * replays the full two-leg pipeline (all-pairs cosines, candidate
    * ranking, symmetrization), so the driver hash independently proves
    * the collapse on every run. */
  def similarityKnnGraphLshRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = Indexes.knnGraphEdges(s, dir).select(col("a_id"), col("b_id"))
    val b = bucketed(s, dir)
    val cand = b.select(col("vec_id").as("a_id"), col("tbl"), col("bucket"))
      .join(b.select(col("vec_id").as("b_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nFound = exact.join(cand, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    nExact.crossJoin(nFound)
      .select(col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  // Shared PCA oracle CTEs (consumed with qElems in scope): Gram matrix
  // from the quantized elements + two integer power-iteration rounds.
  private val pcaCtes =
    """g AS MATERIALIZED (
      |  SELECT a.i - 1 AS gi, b.i - 1 AS gj,
      |    CAST(sum(a.v * b.v) AS BIGINT) AS g
      |  FROM qe a JOIN qe b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2),
      |v1 AS MATERIALIZED (
      |  SELECT gi AS i, CAST(sum(g) AS BIGINT) AS v1 FROM g GROUP BY gi),
      |m1 AS (SELECT max(abs(v1)) AS m1 FROM v1),
      |v1q AS MATERIALIZED (
      |  SELECT i AS j,
      |    v1 // greatest(1, (SELECT m1 FROM m1) // 1000) AS vq1
      |  FROM v1),
      |v2 AS MATERIALIZED (
      |  SELECT g.gi AS i, CAST(sum(g.g * q.vq1) AS BIGINT) AS v2
      |  FROM g JOIN v1q q ON q.j = g.gj GROUP BY 1),
      |m2 AS (SELECT max(abs(v2)) AS m2 FROM v2)""".stripMargin

  // Shared oracle scaffolding: per-element quantized views.
  private val qElems =
    """qe AS (
      |  SELECT vec_id, i, CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT) AS v
      |  FROM (SELECT vec_id, unnest(embedding) AS e,
      |               generate_subscripts(embedding, 1) AS i FROM embeddings) t),
      |norms AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM qe GROUP BY vec_id)""".stripMargin

  private val duckBucketBit = (p: Int) =>
    s"""(sum(CASE WHEN (CAST($p * 64 + (i - 1) AS BIGINT) * 1103515245 + 12345) % 65536 < 32768
       |          THEN v ELSE -v END) > 0)""".stripMargin

  private def duckBucket(t: Int) =
    "(" + (0 until Planes).map(p =>
      s"(CASE WHEN ${duckBucketBit(t * Planes + p)} THEN ${1 << p} ELSE 0 END)").mkString(" + ") + ")"

  /** One row per (vec_id, tbl, bucket), all tables unioned. */
  private val duckBuckets =
    "buckets AS (" + (0 until Tables).map(t =>
      s"""SELECT vec_id, CAST($t AS BIGINT) AS tbl, CAST(${duckBucket(t)} AS BIGINT) AS bucket
         |FROM qe GROUP BY vec_id""".stripMargin).mkString("\nUNION ALL\n") + ")"

  /** Shared oracle CTE block: IVF cell build + per-vector cell ranking
    * (mirrors [[ivfWithBest]]; `ranked.rn = 1` is the assignment). Used
    * by the semantic-dedup oracle; `similarity_ivf_ann` spells the same
    * CTEs inline (kept as written once green — r6). */
  private val cellRankSql =
    """lab AS (SELECT vec_id, label FROM embeddings),
      |cellsums AS (
      |  SELECT l.label AS cell, q.i, CAST(sum(q.v) AS BIGINT) AS s
      |  FROM qe q JOIN lab l ON l.vec_id = q.vec_id
      |  GROUP BY 1, 2),
      |cellnorm AS (SELECT cell, CAST(sum(s * s) AS BIGINT) AS ss
      |  FROM cellsums GROUP BY cell),
      |aff AS (
      |  SELECT q.vec_id, c.cell,
      |    CAST(sum(q.v * c.s) AS BIGINT) AS dot
      |  FROM qe q JOIN cellsums c ON q.i = c.i
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT a.vec_id, a.cell,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY CAST(a.dot AS DOUBLE) / sqrt(CAST(n.ss AS DOUBLE)) DESC,
      |               a.cell ASC) AS rn
      |  FROM aff a JOIN cellnorm n ON n.cell = a.cell)""".stripMargin

  /** Shared oracle CTE block: PQ training (subvectors -> seeds -> one
    * Lloyd round -> per-(vec, m, cell) distances d2t -> codes). Mirrors
    * [[buildPqCodebook]]/[[buildPqCodes]]; d2t's rows for query vectors
    * double as the ADC LUT. Used by `similarity_pq_adc`,
    * `similarity_ivfpq_ann`, and the recall report. */
  private val pqTrainSql =
    """sv AS MATERIALIZED (
      |  SELECT vec_id, (i - 1) // 16 AS m, (i - 1) % 16 AS j, v FROM qe),
      |seeds AS (
      |  SELECT m, vec_id AS cell, j, v AS cv FROM sv WHERE vec_id < 8),
      |d1 AS (
      |  SELECT x.vec_id, x.m, s.cell,
      |    CAST(sum((x.v - s.cv) * (x.v - s.cv)) AS BIGINT) AS d2
      |  FROM sv x JOIN seeds s ON x.m = s.m AND x.j = s.j
      |  GROUP BY 1, 2, 3),
      |a1 AS (
      |  SELECT vec_id, m, cell FROM d1
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) = 1),
      |c2 AS MATERIALIZED (
      |  SELECT a.m, a.cell, x.j,
      |    CAST(floor(CAST(sum(x.v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM sv x JOIN a1 a ON x.vec_id = a.vec_id AND x.m = a.m
      |  GROUP BY 1, 2, 3),
      |d2t AS MATERIALIZED (
      |  SELECT x.vec_id, x.m, c.cell,
      |    CAST(sum((x.v - c.cv) * (x.v - c.cv)) AS BIGINT) AS d2
      |  FROM sv x JOIN c2 c ON x.m = c.m AND x.j = c.j
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, m, cell AS code FROM d2t
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) = 1)""".stripMargin

  val declared: Seq[Declared] = Seq(
    // mutual 5-NN graph: all-pairs exact dots, rank per node, reversed
    // self-join for mutuality. k is referenced twice -> MATERIALIZED.
    Declared("similarity_knn_graph", similarityKnnGraph _,
      s"""WITH $qElems,
         |dots AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i
         |  WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),
         |scored AS (
         |  SELECT a_id, b_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(an.n2 AS DOUBLE) * CAST(bn.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms an ON an.vec_id = a_id
         |  JOIN norms bn ON bn.vec_id = b_id),
         |k AS MATERIALIZED (
         |  SELECT a_id, b_id, cosine,
         |    row_number() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
         |  FROM scored QUALIFY rn <= 5)
         |SELECT x.a_id, x.b_id, CAST(x.rn AS BIGINT) AS rank_ab,
         |  CAST(y.rn AS BIGINT) AS rank_ba, x.cosine
         |FROM k x JOIN k y ON x.a_id = y.b_id AND x.b_id = y.a_id
         |WHERE x.a_id < x.b_id ORDER BY x.a_id, x.b_id""".stripMargin),
    // LSH-candidate mutual graph recall: scored (all-pairs cosines)
    // serves both legs - the exact ranking and the LSH candidate subset
    Declared("similarity_knn_graph_lsh_recall", similarityKnnGraphLshRecall _,
      s"""WITH $qElems,
         |dots AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i
         |  WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),
         |scored AS MATERIALIZED (
         |  SELECT a_id, b_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(an.n2 AS DOUBLE) * CAST(bn.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms an ON an.vec_id = a_id
         |  JOIN norms bn ON bn.vec_id = b_id),
         |ke AS MATERIALIZED (
         |  SELECT a_id, b_id,
         |    row_number() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
         |  FROM scored QUALIFY rn <= 5),
         |exact_edges AS MATERIALIZED (
         |  SELECT x.a_id, x.b_id FROM ke x
         |  JOIN ke y ON x.a_id = y.b_id AND x.b_id = y.a_id
         |  WHERE x.a_id < x.b_id),
         |$duckBuckets,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM buckets x JOIN buckets y
         |    ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id <> y.vec_id),
         |kl AS MATERIALIZED (
         |  SELECT c.a_id, c.b_id,
         |    row_number() OVER (PARTITION BY c.a_id
         |      ORDER BY s.cosine DESC, c.b_id ASC) AS rn
         |  FROM cand c JOIN scored s ON s.a_id = c.a_id AND s.b_id = c.b_id
         |  QUALIFY rn <= 5),
         |lsh_edges AS (
         |  SELECT p.a_id, p.b_id FROM kl p
         |  JOIN kl q ON p.a_id = q.b_id AND p.b_id = q.a_id
         |  WHERE p.a_id < p.b_id)
         |SELECT
         |  (SELECT count(*) FROM exact_edges) AS n_exact,
         |  (SELECT count(*) FROM lsh_edges l
         |     JOIN exact_edges e ON l.a_id = e.a_id AND l.b_id = e.b_id) AS n_found,
         |  CAST((SELECT count(*) FROM lsh_edges l
         |     JOIN exact_edges e ON l.a_id = e.a_id AND l.b_id = e.b_id) AS DOUBLE) /
         |  CAST((SELECT count(*) FROM exact_edges) AS DOUBLE) AS recall""".stripMargin),
    // prefix-dim top-5 per (dim, query) vs the d=64 truth, hits counted
    Declared("similarity_matryoshka_recall", matryoshkaRecall _,
      s"""WITH $qElems,
         |dims(d) AS (VALUES (8), (16), (32), (64)),
         |pnorm AS MATERIALIZED (
         |  SELECT dm.d, vec_id, CAST(sum(v * v) AS BIGINT) AS n2
         |  FROM qe JOIN dims dm ON qe.i <= dm.d GROUP BY dm.d, vec_id),
         |pdot AS MATERIALIZED (
         |  SELECT dm.d, a.vec_id AS qid, b.vec_id AS cid,
         |         CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  JOIN dims dm ON a.i <= dm.d
         |  WHERE a.vec_id < 8
         |  GROUP BY dm.d, a.vec_id, b.vec_id),
         |top AS MATERIALIZED (
         |  SELECT dt.d, dt.qid, dt.cid
         |  FROM pdot dt
         |  JOIN pnorm na ON na.d = dt.d AND na.vec_id = dt.qid
         |  JOIN pnorm nb ON nb.d = dt.d AND nb.vec_id = dt.cid
         |  QUALIFY row_number() OVER (PARTITION BY dt.d, dt.qid
         |    ORDER BY CAST(dt.dot AS DOUBLE) /
         |             sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) DESC,
         |             dt.cid ASC) <= 5),
         |truth AS (SELECT qid, cid FROM top WHERE d = 64)
         |SELECT CAST(t.d AS BIGINT) AS dim,
         |  CAST(count(tr.qid) AS BIGINT) AS n_hits,
         |  CAST(count(tr.qid) AS DOUBLE) / 40.0 AS recall
         |FROM top t LEFT JOIN truth tr ON tr.qid = t.qid AND tr.cid = t.cid
         |WHERE t.d < 64
         |GROUP BY t.d ORDER BY dim""".stripMargin),
    // Gram + 2-round integer power iteration, exact mirror (note: both
    // engines' integer division truncates toward zero, verified; the
    // ray sums go through HUGEINT ≡ decimal(38,0))
    Declared("similarity_pca_gram", similarityPcaGram _,
      s"""WITH $qElems,
         |$pcaCtes,
         |ray AS (
         |  SELECT CASE WHEN sum(q.vq1 * q.vq1) = 0 THEN 0.0
         |    ELSE CAST(sum(q.vq1 * v2.v2) AS DOUBLE) /
         |         CAST(sum(q.vq1 * q.vq1) AS DOUBLE) END AS lambda1
         |  FROM v2 JOIN v1q q ON q.j = v2.i)
         |SELECT v2.i,
         |  v2.v2 // greatest(1, (SELECT m2 FROM m2) // 1000) AS eig_q,
         |  (SELECT lambda1 FROM ray) AS lambda1
         |FROM v2 ORDER BY v2.i""".stripMargin),
    // projection of every vector onto the learned component (same CTEs),
    // aggregated per label — exact integer dot products
    Declared("similarity_pca_project", similarityPcaProject _,
      s"""WITH $qElems,
         |$pcaCtes,
         |eig AS MATERIALIZED (
         |  SELECT i, v2 // greatest(1, (SELECT m2 FROM m2) // 1000) AS eig_q
         |  FROM v2),
         |proj AS MATERIALIZED (
         |  SELECT qe.vec_id, CAST(sum(qe.v * eig.eig_q) AS BIGINT) AS proj
         |  FROM qe JOIN eig ON eig.i = qe.i - 1
         |  GROUP BY qe.vec_id)
         |SELECT e.label, CAST(count(*) AS BIGINT) AS n,
         |  min(p.proj) AS min_proj, max(p.proj) AS max_proj,
         |  CAST(sum(p.proj) AS BIGINT) AS sum_proj,
         |  CAST(sum(p.proj) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_proj
         |FROM proj p JOIN embeddings e ON e.vec_id = p.vec_id
         |GROUP BY e.label ORDER BY e.label""".stripMargin),
    Declared("similarity_cosine_topk", cosineTopK _,
      s"""WITH $qElems,
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |         CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i
         |  WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = query_id
         |  JOIN norms cn ON cn.vec_id = cand_id),
         |ranked AS (
         |  SELECT query_id, cand_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rn
         |  FROM scored)
         |SELECT query_id, CAST(rn AS BIGINT) AS rn, cand_id, cosine
         |FROM ranked WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    Declared("similarity_lsh_buckets", lshBuckets _,
      s"""WITH $qElems,
         |$duckBuckets
         |SELECT tbl, bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
         |FROM buckets GROUP BY tbl, bucket ORDER BY tbl, bucket""".stripMargin),
    Declared("similarity_lsh_ann", lshAnnTopK _,
      s"""WITH $qElems,
         |$duckBuckets,
         |cand_pairs AS (
         |  SELECT DISTINCT ba.vec_id AS query_id, bb.vec_id AS cand_id
         |  FROM buckets ba
         |  JOIN buckets bb ON ba.tbl = bb.tbl AND ba.bucket = bb.bucket
         |  WHERE ba.vec_id < 8 AND ba.vec_id <> bb.vec_id),
         |dots AS (
         |  SELECT p.query_id, p.cand_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM cand_pairs p
         |  JOIN qe a ON a.vec_id = p.query_id
         |  JOIN qe b ON b.vec_id = p.cand_id AND a.i = b.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = query_id
         |  JOIN norms cn ON cn.vec_id = cand_id),
         |ranked AS (
         |  SELECT query_id, cand_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rn
         |  FROM scored)
         |SELECT query_id, CAST(rn AS BIGINT) AS rn, cand_id, cosine
         |FROM ranked WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin),
    Declared("similarity_ivf_ann", ivfAnnTopK _,
      s"""WITH $qElems,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cellsums AS (
         |  SELECT l.label AS cell, q.i, CAST(sum(q.v) AS BIGINT) AS s
         |  FROM qe q JOIN lab l ON l.vec_id = q.vec_id
         |  GROUP BY 1, 2),
         |cellnorm AS (SELECT cell, CAST(sum(s * s) AS BIGINT) AS ss
         |  FROM cellsums GROUP BY cell),
         |aff AS (
         |  SELECT q.vec_id, c.cell,
         |    CAST(sum(q.v * c.s) AS BIGINT) AS dot
         |  FROM qe q JOIN cellsums c ON q.i = c.i
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT a.vec_id, a.cell,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(a.dot AS DOUBLE) / sqrt(CAST(n.ss AS DOUBLE)) DESC,
         |               a.cell ASC) AS rn
         |  FROM aff a JOIN cellnorm n ON n.cell = a.cell),
         |assign AS (SELECT vec_id AS cand_id, cell FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM ranked
         |           WHERE rn <= 2 AND vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.cand_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell
         |  WHERE a.cand_id <> p.query_id),
         |dots AS (
         |  SELECT c.query_id, c.cand_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN qe a ON a.vec_id = c.query_id
         |  JOIN qe b ON b.vec_id = c.cand_id AND a.i = b.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = query_id
         |  JOIN norms cn ON cn.vec_id = cand_id),
         |final AS (
         |  SELECT query_id, cand_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rn
         |  FROM scored)
         |SELECT query_id, CAST(rn AS BIGINT) AS rn, cand_id, cosine
         |FROM final WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin),
    Declared("similarity_label_centroids", labelCentroids _,
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(sum(CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS DOUBLE) /
        |    CAST(count(*) * 1000 AS DOUBLE) AS centroid,
        |  count(*) AS n_vectors
        |FROM (SELECT label, unnest(embedding) AS e,
        |             generate_subscripts(embedding, 1) AS i FROM embeddings) t
        |GROUP BY label, i ORDER BY label, dim""".stripMargin),
    // 2 Lloyd iterations unrolled: exact-integer d², floor(Σv/n) update
    Declared("similarity_kmeans", kmeansCells _,
      s"""WITH $qElems,
         |seeds AS (SELECT vec_id AS cell, i AS dim, v AS cv FROM qe WHERE vec_id < 8),
         |d1 AS (
         |  SELECT x.vec_id, s.cell,
         |    CAST(sum((x.v - s.cv) * (x.v - s.cv)) AS BIGINT) AS d2
         |  FROM qe x JOIN seeds s ON x.i = s.dim GROUP BY 1, 2),
         |a1 AS (
         |  SELECT vec_id, cell FROM d1
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1),
         |c2 AS (
         |  SELECT a1.cell, x.i AS dim,
         |    CAST(floor(CAST(sum(x.v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM qe x JOIN a1 ON x.vec_id = a1.vec_id GROUP BY 1, 2),
         |dd2 AS (
         |  SELECT x.vec_id, c.cell,
         |    CAST(sum((x.v - c.cv) * (x.v - c.cv)) AS BIGINT) AS d2
         |  FROM qe x JOIN c2 c ON x.i = c.dim GROUP BY 1, 2),
         |a2 AS (
         |  SELECT vec_id, cell, d2 FROM dd2
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1)
         |SELECT cell, count(*) AS n_vecs, CAST(sum(d2) AS BIGINT) AS inertia
         |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin),
    // PQ: per-subspace codebooks (seed + 1 Lloyd round), codes by min
    // (d2, cell), ADC = Σ_m LUT[m][code]; the query LUT is d2t's rows
    // for query vecs (same x·x + c·c − 2x·c integers as the engine)
    Declared("similarity_pq_adc", pqAdcTopK _,
      s"""WITH $qElems,
         |$pqTrainSql,
         |adc AS (
         |  SELECT l.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |  FROM codes c JOIN d2t l ON l.m = c.m AND l.cell = c.code
         |  WHERE l.vec_id < 8 AND l.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |top AS MATERIALIZED (
         |  SELECT query_id, cand_id, adc_d2,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_d2, cand_id) AS BIGINT) AS rn
         |  FROM adc QUALIFY rn <= 3),
         |dots AS (
         |  SELECT t.query_id, t.cand_id, CAST(sum(a.v * b.v) AS BIGINT) AS d
         |  FROM top t
         |  JOIN qe a ON a.vec_id = t.query_id
         |  JOIN qe b ON b.vec_id = t.cand_id AND a.i = b.i
         |  GROUP BY 1, 2)
         |SELECT t.query_id, t.rn, t.cand_id, t.adc_d2,
         |  CAST(qn.n2 + cn.n2 - 2 * d.d AS BIGINT) AS true_d2
         |FROM top t
         |JOIN dots d ON d.query_id = t.query_id AND d.cand_id = t.cand_id
         |JOIN norms qn ON qn.vec_id = t.query_id
         |JOIN norms cn ON cn.vec_id = t.cand_id
         |ORDER BY t.query_id, t.rn""".stripMargin),
    // IVF+PQ composition: probe cells = the IVF ranking's top-2 per
    // query, candidates = vectors assigned (rn=1) to a probed cell,
    // ADC = sum_m d2t[query][m][code(cand, m)] over the restricted set,
    // top-3 by (adc_d2, cand_id), exact re-rank via norms + dots
    Declared("similarity_ivfpq_ann", ivfPqAnnTopK _,
      s"""WITH $qElems,
         |$cellRankSql,
         |$pqTrainSql,
         |iassign AS (SELECT vec_id AS cand_id, cell FROM ranked WHERE rn = 1),
         |iprobes AS (SELECT vec_id AS query_id, cell FROM ranked
         |            WHERE rn <= 2 AND vec_id < 8),
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.cand_id
         |  FROM iprobes p JOIN iassign a ON a.cell = p.cell
         |  WHERE a.cand_id <> p.query_id),
         |adc AS (
         |  SELECT cd.query_id, cd.cand_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |  FROM cand cd
         |  JOIN codes c ON c.vec_id = cd.cand_id
         |  JOIN d2t l ON l.vec_id = cd.query_id AND l.m = c.m AND l.cell = c.code
         |  GROUP BY 1, 2),
         |top AS MATERIALIZED (
         |  SELECT query_id, cand_id, adc_d2,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_d2, cand_id) AS BIGINT) AS rn
         |  FROM adc QUALIFY rn <= 3),
         |dots AS (
         |  SELECT t.query_id, t.cand_id, CAST(sum(a.v * b.v) AS BIGINT) AS d
         |  FROM top t
         |  JOIN qe a ON a.vec_id = t.query_id
         |  JOIN qe b ON b.vec_id = t.cand_id AND a.i = b.i
         |  GROUP BY 1, 2)
         |SELECT t.query_id, t.rn, t.cand_id, t.adc_d2,
         |  CAST(qn.n2 + cn.n2 - 2 * d.d AS BIGINT) AS true_d2
         |FROM top t
         |JOIN dots d ON d.query_id = t.query_id AND d.cand_id = t.cand_id
         |JOIN norms qn ON qn.vec_id = t.query_id
         |JOIN norms cn ON cn.vec_id = t.cand_id
         |ORDER BY t.query_id, t.rn""".stripMargin),
    Declared("dedup_embedding_cosine", dedupEmbeddingCosine _,
      s"""WITH $qElems,
         |dots AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i
         |  WHERE a.vec_id < 200 AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT a_id, b_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id)
         |SELECT a_id, b_id, cosine FROM sc
         |WHERE cosine >= 0.4 ORDER BY a_id, b_id""".stripMargin),
    Declared("dedup_semantic", dedupSemantic _,
      s"""WITH $qElems,
         |$cellRankSql,
         |assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
         |cand AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cell
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT c.a_id, c.b_id, c.cell,
         |    CAST(sum(x.v * y.v) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN qe x ON x.vec_id = c.a_id
         |  JOIN qe y ON y.vec_id = c.b_id AND x.i = y.i
         |  GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT a_id, b_id, cell,
         |    CAST(dot AS DOUBLE) /
         |      sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id)
         |SELECT b_id AS vec_id, cell, min(a_id) AS dup_of,
         |  max(cosine) AS max_cosine, count(*) AS n_dups
         |FROM scored WHERE cosine >= $SemTau
         |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin),
    // recall@3 of all three ANN methods vs the brute-force truth:
    // replays the already-green pipelines and counts set hits
    Declared("similarity_ann_recall", annRecall _,
      s"""WITH $qElems,
         |$duckBuckets,
         |$cellRankSql,
         |$pqTrainSql,
         |bdots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |         CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM qe a JOIN qe b ON a.i = b.i
         |  WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY CAST(dot AS DOUBLE) /
         |          sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) DESC,
         |          cand_id ASC) AS rn
         |    FROM bdots
         |    JOIN norms qn ON qn.vec_id = query_id
         |    JOIN norms cn ON cn.vec_id = cand_id)
         |  WHERE rn <= 3),
         |lcand AS (
         |  SELECT DISTINCT ba.vec_id AS query_id, bb.vec_id AS cand_id
         |  FROM buckets ba
         |  JOIN buckets bb ON ba.tbl = bb.tbl AND ba.bucket = bb.bucket
         |  WHERE ba.vec_id < 8 AND ba.vec_id <> bb.vec_id),
         |ldots AS (
         |  SELECT p.query_id, p.cand_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM lcand p
         |  JOIN qe a ON a.vec_id = p.query_id
         |  JOIN qe b ON b.vec_id = p.cand_id AND a.i = b.i
         |  GROUP BY 1, 2),
         |lsh3 AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY CAST(dot AS DOUBLE) /
         |          sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) DESC,
         |          cand_id ASC) AS rn
         |    FROM ldots
         |    JOIN norms qn ON qn.vec_id = query_id
         |    JOIN norms cn ON cn.vec_id = cand_id)
         |  WHERE rn <= 3),
         |iassign AS (SELECT vec_id AS cand_id, cell FROM ranked WHERE rn = 1),
         |iprobes AS (SELECT vec_id AS query_id, cell FROM ranked
         |            WHERE rn <= 2 AND vec_id < 8),
         |icand AS (
         |  SELECT DISTINCT p.query_id, a.cand_id
         |  FROM iprobes p JOIN iassign a ON a.cell = p.cell
         |  WHERE a.cand_id <> p.query_id),
         |idots AS (
         |  SELECT c.query_id, c.cand_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
         |  FROM icand c
         |  JOIN qe a ON a.vec_id = c.query_id
         |  JOIN qe b ON b.vec_id = c.cand_id AND a.i = b.i
         |  GROUP BY 1, 2),
         |ivf3 AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY CAST(dot AS DOUBLE) /
         |          sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) DESC,
         |          cand_id ASC) AS rn
         |    FROM idots
         |    JOIN norms qn ON qn.vec_id = query_id
         |    JOIN norms cn ON cn.vec_id = cand_id)
         |  WHERE rn <= 3),
         |padc AS (
         |  SELECT cd.query_id, cd.cand_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |  FROM icand cd
         |  JOIN codes c ON c.vec_id = cd.cand_id
         |  JOIN d2t l ON l.vec_id = cd.query_id AND l.m = c.m AND l.cell = c.code
         |  GROUP BY 1, 2),
         |ivfpq3 AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_d2, cand_id) AS rn
         |    FROM padc)
         |  WHERE rn <= 3)
         |SELECT method, n_relevant, n_hit,
         |  CAST(n_hit AS DOUBLE) / CAST(n_relevant AS DOUBLE) AS recall
         |FROM (
         |  SELECT 'ivf' AS method,
         |    CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_relevant,
         |    CAST((SELECT count(*) FROM truth t JOIN ivf3 g
         |          ON t.query_id = g.query_id AND t.cand_id = g.cand_id)
         |      AS BIGINT) AS n_hit
         |  UNION ALL
         |  SELECT 'ivfpq',
         |    CAST((SELECT count(*) FROM truth) AS BIGINT),
         |    CAST((SELECT count(*) FROM truth t JOIN ivfpq3 g
         |          ON t.query_id = g.query_id AND t.cand_id = g.cand_id)
         |      AS BIGINT)
         |  UNION ALL
         |  SELECT 'lsh',
         |    CAST((SELECT count(*) FROM truth) AS BIGINT),
         |    CAST((SELECT count(*) FROM truth t JOIN lsh3 g
         |          ON t.query_id = g.query_id AND t.cand_id = g.cand_id)
         |      AS BIGINT))
         |ORDER BY method""".stripMargin),
  )
}
