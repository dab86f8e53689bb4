package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Formatted physical plans, in two modes.
  *
  *  - `sbt "runMain graft.PlanDump"` writes PLANS.md: the flagship
  *    queries at sf0.001 on local[4], the plan shapes SCALE.md claims
  *    (pushdown, broadcasts, single-cube exchange, map-side group
  *    limits). The file is generated on demand and git-ignored, so it
  *    always reflects the code that wrote it.
  *  - `sbt "runMain graft.PlanDump <tag> <outdir> <q1,q2,...>"` writes
  *    `<outdir>/<q>_<tag>.txt` for each named declared query at
  *    `SPARK_GRAFT_SF_DIR` (default sf0.1, the scale the bench runs:
  *    local stats at sf0.001 can flip broadcast decisions) on
  *    `SPARK_GRAFT_CPUS` cores (default: all). The before/after plans
  *    under `plans/` were written this way. */
object PlanDump {
  def main(args: Array[String]): Unit = args match {
    case Array() => plansMd()
    case Array(tag, outDir, names) =>
      perQuery(tag, outDir, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case _ => sys.error("usage: PlanDump [<tag> <outdir> <q1,q2,...>]")
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  // the insights NullSentinel begins with U+0000, which would make a
  // committed file binary for git/grep: render control chars visibly
  private def visible(text: String): String = text.flatMap {
    case c if c == '\n' || c == '\t' || c >= ' ' => c.toString
    case c => f"\\x${c.toInt}%02x"
  }

  private def perQuery(tag: String, outDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus())
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(out, visible(formatted(SparkEntry.queries(name)(spark, dir))))
      println(s"wrote $out")
    }
    spark.stop()
  }

  private def plansMd(): Unit = {
    val spark = GraftSession.local(4)
    val dir = "/root/testdata/sf0.001"
    val picks = Seq(
      "q5_nation_revenue"       -> "star join: dims broadcast, fact-side shuffles on join keys only",
      "q6_revenue_filter"       -> "scan: predicate pushdown + column pruning",
      "insights_orders_cube"    -> "grouping-set engine: ONE Expand + ONE exchange for all subsets",
      "topk_customers_per_nation" -> "top-k: map-side WindowGroupLimit below the exchange",
      "similarity_lsh_ann"      -> "ANN: stored parquet signature index (graft_index_lshsig) + bucket equi-join — zero signature recomputation",
      "dedup_minhash_lsh"       -> "dedup: banded LSH join, narrow shuffle rows",
      "dedup_incremental"       -> "incremental dedup: batch-bands probe corpus-bands, join volume scales with the batch",
      "multimodal_decode_stats" -> "typed mapPartitions decode: no RDD scan boundary",
      "subquery_exists_orders"  -> "correlated EXISTS: rewritten to a left-semi hash join",
      "q7_nation_trade"         -> "multi-role dimension star: nation broadcast twice, no self-join shuffle",
      "text_tfidf_topterms"     -> "tf-idf: broadcast df join + broadcast scalar N + per-doc top-k window",
      "pack_sequences"          -> "token packing: per-lang cumulative window, no single-partition sort",
      "embedding_quantize"      -> "normalize+int8 quantize: map-only pass, one codegen'd norm traversal",
      "q21_waiting_suppliers"   -> "EXISTS/NOT-EXISTS pair collapsed to ONE per-order aggregate, no lineitem self-join",
      "text_decontaminate"      -> "probe-set decontamination: codegen'd shingles + broadcast semi join, no text shuffle",
      "source_bucketed_join"    -> "bucketed layout: SMJ over two bucketed scans, zero Exchange below the join",
      "source_dpp_join"         -> "dynamic partition pruning: dim predicate becomes a runtime fact partition filter",
      "dedup_semantic"          -> "SemDeDup: map-side IVF cell assignment, persisted once, within-cell pair join",
      "text_dsir_sample"        -> "DSIR: 64-row bucket-weight broadcast, one doc-keyed aggregate, top-k cut",
      "scan_agg_pushdown"       -> "metadata query: COUNT/MIN/MAX pushed into the parquet scan (footer stats, zero data pages)",
      "insights_incremental"    -> "materialized-view merge: two cube cores + one narrow re-aggregate, never a re-cube",
      "text_nb_classifier"      -> "model training: token aggregates collapse to a 2560-row broadcast model, test side map-only",
      "similarity_pq_adc"       -> "PQ-ADC: codebooks + per-query LUTs broadcast, corpus scored map-side by 4 array reads, top-3 group-limited then exact re-rank",
      "similarity_ivfpq_ann"    -> "IVF+PQ (the production ANN plan): stored probe cells restrict the stored-codes ADC scan via two broadcast joins — zero corpus shuffles, zero re-encoding",
      "text_tvd_drift"          -> "drift monitor: token-keyed join of per-source counts to corpus counts, closed-form absent-token fold, one exact-integer aggregate per source",
      "events_concurrency"      -> "sweep line: one user_id shuffle (sessionize), map-side day split, per-day change-point window",
      "split_kfold"             -> "k-fold audit: every join broadcast — labels to the corpus, labels to the pair index, k-row audits to stats",
      "similarity_matryoshka_recall" -> "matryoshka eval: four broadcast map-only prefix scans (8/16/32/64 dims), per-(dim,query) group-limit, hits joined on the d=64 truth",
      "curation_mixture_sample" -> "temperature mix: source-cardinality aggregate + broadcast rates join + map-side LCG coin — the corpus never shuffles",
      "curation_effective_tokens" -> "dataset-size readout: stored component-label index joined broadcast to one corpus scan, one source-cardinality aggregate",
      "text_tfidf_cosine_minhash" -> "tf-idf via term-set MinHash banding: one codegen'd 32-perm pass over salient sets, (band,bucket) self-join, exact verify — no plane explode, no cartesian",
      "text_bm25_topk" -> "BM25 retrieval: query terms broadcast (only their postings survive), corpus doc-length joins map-side, exact-integer scores, per-query group-limited top-10",
      "similarity_pca_gram" -> "PCA: ONE typed-Aggregator corpus pass builds the 64x64 Gram; both power iterations + Rayleigh run on the constant 4096-row relation with broadcast joins",
      "multimodal_phash_dedup" -> "pHash media dedup: one map pass chunk-hashes the blobs (bytes never shuffle), map-side-combinable vote aggregate, banded hamming join — the dedup SimHash machinery with the feature extractor swapped",
      "graph_kcore" -> "k-core peel (final round's plan): degree aggregate + two node-keyed joins over the shrunken cached edge relation — each round is this shape over a smaller input",
      "pipeline_budget_mix" -> "budgeted mix: quality gate + md5 dedup share one shuffle, sqrt-weight budgets broadcast, source-partitioned first-fit window, tiny accounting aggregate",
      "dedup_simhash128" -> "128-bit banded hamming (the production knob): unsigned-shift band extraction, 10-bit buckets — 32x the 64-bit bucket space at identical join shape",
      "text_salience_monitor" -> "salience guard: ONE posting aggregate + broadcast df join; per-source Σdf/Σdf² + corpus row — the pre-flight before any exact tf-idf pair join",
      "multimodal_cdc_chunks" -> "content-defined chunking: boundary detection + chunk fingerprints in ONE compiled rolling-hash pass per row (ContentChunks expression), only (chunk_md5, doc_id) shuffles",
      "dedup_substring_spans" -> "ExactSubstr spans: constant-width gram-hash shuffle, df>=2 cut, posting join, per-doc gaps-and-islands window — no suffix array, no all-pairs",
      "text_winnow_fingerprints" -> "winnowing: map-only per-doc pass — (hash,pos) packed into one long so a plain w-row window min is the rightmost-argmin",
      "similarity_knn_graph" -> "mutual kNN graph: broadcast all-pairs scoring at fixture (scale path = stored IVF/LSH candidates), per-node group-limit, reversed-key self-join on the persisted k*n edges",
      "text_gopher_rules" -> "Gopher rule bundle: one map-only projection + ONE fused (doc,width,gram) count shuffle serving both the top-2-gram and dup-5-gram rules",
      "join_volume_guard" -> "join pre-flight: two map-side-combinable per-key counts + full-outer merge per audited join — |keys| rows to predict the join it de-risks",
      "events_dau_wau" -> "DAU/WAU: window expansion — explode each (day,user) to its 7 window ends, distinct, equi-keyed count; no range join, no sliding count-distinct",
      "pipeline_curation_funnel" -> "curation funnel: gate semi joins + one aggregate per stage; spans recomputed among survivors; 4 rows reach the driver",
      "events_asof_nearest" -> "nearest as-of: ONE user-keyed shuffle of the tagged union; backward max-struct + forward min-struct windows, winner per row — no time-range join",
      "pipeline_worker_shards" -> "worker shards: exact integer-div assignment over the two-phase epoch order; one scalar broadcast, <=W-key aggregate",
      "text_tfidf_pairs_routed" -> "guard-routed tf-idf pairs: a 1-row pre-flight over the posting index picks the route, so on a guard-pass corpus the plan IS the exact posting join (below); under drift it is the SRP-LSH plan instead",
      "events_dau_wau_hll" -> "HLL DAU/WAU: per-day sketch partials expanded to their 7 window ends, hll_union_agg merges 7 fixed-size sketches per day — the activity relation feeds the sketch path once",
      "multimodal_phash_dedup_128" -> "128-bit pHash over CDC chunk features: compiled rolling-hash chunking + signed votes (bytes never shuffle), 13x10-bit banded hamming join — 32x the 64-bit bucket space, edit-resilient features",
      "dedup_simhash256" -> "256-bit banded hamming (the sha256 ladder rung the calibrator's saturation measurement motivated): fused 8-word vote pass keeps the signature an array<long>, 13x20-bit bands — 1024x the 128-bit bucket space at identical join shape",
      "calibrate_similarity" -> "cost-based knob derivation: two map-side-combinable gram aggregates -> <=63-row log2 histograms -> bounded-window cumulative caps; the 1-row output crosses broadcast joins only",
      "dedup_simhash512" -> "512-bit banded hamming (the doubled-sha256 rung that closes the width ladder): fused 16-word vote pass, 13x40/39-bit balanced bands — weakest-band bucket space 2^39, capacity past any training corpus",
      "dedup_simhash_routed" -> "declared rung routing: the stored calibration picks the width (128 on this corpus), so the plan IS that rung's banded join plus the pinned simhash_bits literal — the selection itself is oracle-replayed",
      "dedup_substring_spans_routed" -> "guard-routed spans: the stored calibration's Σc² budget check picks uncapped (this corpus) vs span_gram_cap anti-join; the uncapped plan is the ExactSubstr shape below",
      "dedup_ngram_jaccard_routed" -> "guard-routed Jaccard: Σdf² over budget on this corpus, so the plan IS the PPJoin prefix join — hot shingles never enter a prefix; the salted cap remains the cluster-skew sibling",
      "dedup_containment_routed" -> "calibrated containment: the stored calibration's shingle_hot_df replaces the fixed 256 in the is-hot-sorts-last prefix order — same lossless prefix join, threshold now data-derived and pinned in the output",
      "events_cooccurrence_routed" -> "guard-routed events self-join: the per-user count aggregate replays joinVolumeGuard's 16x rule; over budget (this corpus) the plan is the TIME-BANDED join — probe exploded to its 3 adjacent 5-min buckets, build keyed by bucket — so candidates scale with per-bucket density, not n^2 (the volume fix; salting is the skew sibling)",
      "profile_tables_approx" -> "warehouse profiler: one Expand-free approx aggregate per table (orders/documents/events/embeddings), each scan column-pruned to its profiled columns, unioned by name — no joins, no corpus shuffle",
      "calibrate_similarity_sampled" -> "sampled calibration: exact n_docs (count-only) + self-sized LCG sample rate as a broadcast 1-row decision; both histograms run on the sample at unbiased-inflated counts, so detection is scan-bound, not shingle-bound — the full pass's rung/cap rules over ~500 docs at any corpus size",
      "dedup_minhash_routed" -> "calibrated LSH banding: the stored calibration's n_docs picks the b = 2^r S-curve rung ((4, 16) on this corpus), so the plan IS the banded-join LSH at that config with (mh_rows, mh_bands) pinned as literals — recall is a superset of the proven 8-band config (shared permutation constants), precision exact by verification",
      "profile_drift_approx" -> "approx drift: two Expand-free approx snapshot panels + two exact-NDV validation legs, all crossing as broadcast 1-row aggregates — the NDV drift verdict compares the two sketch estimates; the corpus never joins")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries (sf0.001)\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`; evidence only, no spec reads this file.\n")
    picks.foreach { case (name, why) =>
      // dedup_minhash_lsh's declared query serves from the materialized
      // pair index (a bare scan once built); the committed evidence must
      // show the BUILDER's banded-join plan instead
      val df =
        if (name == "dedup_minhash_lsh") ops.Dedup.dedupMinhashLsh(spark, dir)
        else SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name — $why\n\n```\n${formatted(df)}```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), visible(sb.toString))
    spark.stop()
    println("PLANS.md written")
  }
}
