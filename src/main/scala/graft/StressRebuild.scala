package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Calibrate, Dedup, Indexes}

/** One-off probe for the index-staleness RECOVERY path (r14 verdict #5):
  * the stored-calibration amortization is measured (BASELINE.md r14 —
  * p1 build vs p2 serve); this gives the REBUILD the same treatment.
  * Scenario timed, in order (the production snapshot-pipeline life
  * cycle):
  *
  *   1. day-0 BUILD: stamped signature index at the calibrator's rung
  *      for the base corpus (sf0.1 → 5 000 docs → the 128-bit rung);
  *   2. daily APPEND: a same-rung batch through the checked append —
  *      the steady-state cost the stamp check protects;
  *   3. decade CROSSING: the corpus grows 10× (namespaced re-keyed
  *      copies, the StressScale null — constant near-dup density), the
  *      calibrator moves to the 256-bit rung, and the SAME append call
  *      (`Indexes.appendToIndexOrRebuild`) takes the rebuild branch:
  *      full 256-bit signature build over the grown corpus + re-stamp;
  *   4. SERVE: a consumer fetch of the rebuilt index (plain stored
  *      scan), the per-query cost every later consumer pays.
  *
  * The readout is rebuild-vs-serve: rebuild is a once-per-decade event
  * priced like an index build (linear in the corpus), serve stays a
  * scan — the argument that transparent recovery does not change the
  * amortization story, now with a measured wall. One JSON line per
  * step + a summary line; two passes are pointless here (build/rebuild
  * are one-shot by definition), so each step is timed once and the
  * serve leg twice (min kept, the Bench convention).
  */
object StressRebuild {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scale = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "/tmp/graft_rebuild"
    val spark = GraftSession.local(GraftSession.cpus())
    def fmt(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up

    // grown corpus: namespaced re-keyed copies (StressScale's null),
    // written to parquet so the rebuild reads a real snapshot dir
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val stride = StressScale.rekeyStride(docs, "doc_id")
    (0 until scale).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * stride)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val grown = spark.read.parquet(s"$out/documents.parquet")

    val tag = "simhash_rebuild_probe"
    val p0 = Calibrate.params(spark, base)
    val stamp0 = Calibrate.currentSimhashParams(p0)
    def sigsAt(bits: Int, d: DataFrame): DataFrame = bits match {
      case 64 => Dedup.simhashSignatures(d)
      case 128 => Dedup.simhash128Signatures(d)
      case 256 => Dedup.simhash256Signatures(d)
      case _ => Dedup.simhash512Signatures(d)
    }

    // 1. day-0 stamped build at the base rung
    val (_, buildS) = timed {
      Indexes.materializedIndexStamped(spark, base, tag, stamp0)(
        sigsAt(p0.simhashBits, docs)).count()
    }
    println(s"""{"rebuild_probe":{"step":"build","n_docs":${p0.nDocs},""" +
      s""""bits":${p0.simhashBits},"sec":${fmt(buildS)}}}""")

    // 2. steady-state: a same-rung daily batch through the checked path
    // (re-keyed above the stride so base and batch don't overlap)
    val batch = docs.limit(500)
      .withColumn("doc_id", col("doc_id") + lit(scale.toLong * stride))
    val (tookRebuild0, appendS) = timed {
      Indexes.appendToIndexOrRebuild(spark, base, tag,
        sigsAt(p0.simhashBits, batch), stamp0)(
        sys.error("fresh stamp must append, not rebuild"))
    }
    require(!tookRebuild0, "same-rung append must not rebuild")
    println(s"""{"rebuild_probe":{"step":"append","rows":500,""" +
      s""""sec":${fmt(appendS)}}}""")

    // 3. the decade crossing: calibrate the grown corpus (the detection
    // cost), then the SAME call takes the rebuild branch
    val (p1, calibS) = timed {
      Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(grown))
    }

    // 3b. the SAMPLED detection pass (r15 verdict #1): the full stats
    // pass above is the measured dominant lifecycle cost and grows
    // linearly; the self-sizing hash-sample must pick the SAME rung and
    // caps at a flat cost across the decade — both asserted here, both
    // printed, so the probe row IS the deliverable's evidence.
    val (fullBase, calibBaseS) = timed {
      Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(docs))
    }
    val (sampBase, sampBaseS) = timed { Calibrate.sampledParamsFromDocs(docs) }
    val (sampGrown, sampGrownS) = timed { Calibrate.sampledParamsFromDocs(grown) }
    def capsMatch(full: Calibrate.SimilarityParams,
        samp: Map[String, Long]): Boolean =
      samp("shingle_hot_df") == full.shingleHotDf &&
        samp("span_gram_cap") == full.spanGramCap &&
        samp("simhash_bits") == full.simhashBits.toLong &&
        samp("srp_planes") == full.srpPlanes.toLong
    require(capsMatch(fullBase, sampBase),
      s"sampled base params diverge from full: $sampBase vs $fullBase")
    require(capsMatch(p1, sampGrown),
      s"sampled grown params diverge from full: $sampGrown vs $p1")
    println(s"""{"rebuild_probe":{"step":"calibrate_sampled",""" +
      s""""full_base_s":${fmt(calibBaseS)},"full_grown_s":${fmt(calibS)},""" +
      s""""sampled_base_s":${fmt(sampBaseS)},"sampled_grown_s":${fmt(sampGrownS)},""" +
      s""""bp_base":${sampBase("sample_bp")},"bp_grown":${sampGrown("sample_bp")},""" +
      s""""n_sampled_base":${sampBase("n_docs_sampled")},""" +
      s""""n_sampled_grown":${sampGrown("n_docs_sampled")},"params_match":true}}""")
    // 3c. the PRUNED-LAYOUT detection pass (r16 verdict #2/#6): the
    // sampled pass above is CPU-flat but still SCANS the whole corpus
    // through the coin filter — IO-bound linear, a full-corpus read per
    // detection at 100 TB. The coin-partitioned layout makes that scan
    // prunable; this measures detection BYTES READ (task input metrics)
    // as well as wall for all three shapes on both corpora. Expected:
    // full and sampled-scan bytes grow ~10x with the corpus; pruned
    // bytes stay bounded by max(bp, 100)/10^4 of the corpus — the block
    // floor holds bytes ~FLAT across the decade (the sub-block lever is
    // the in-block coin sort's row-group pruning, which engages at
    // production file sizes, not fixture-sized single-row-group files).
    // IO is measured as the byte size of the file SELECTION each shape
    // scans — deterministic and exact: the full/sampled passes select
    // the whole corpus (their plans carry no partition filter), the
    // pruned pass selects the coin_block dirs its literal filter keeps
    // (Catalyst partition pruning is plan-pinned in PlanSpec; runtime
    // byte counters were tried and rejected — the listener bus
    // attributes whole blocks to their successors, and Hadoop's global
    // FS statistics miss parquet's vectored/positioned reads).
    def treeBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    def corpusBytes(d: String): Long =
      treeBytes(java.nio.file.Paths.get(s"$d/documents.parquet"))
    def prunedBytes(d: String, bp: Long): Long = {
      val root = java.nio.file.Paths.get(
        Indexes.indexPath(spark, d, "coinlayout")
          .getOrElse(sys.error(s"coin layout for $d not built")))
      val keep = (bp - 1) / Calibrate.CoinBlockWidth
      val s = java.nio.file.Files.list(root)
      try s.filter(p => p.getFileName.toString.startsWith("coin_block="))
        .filter(p => p.getFileName.toString.stripPrefix("coin_block=").toLong <= keep)
        .mapToLong(treeBytes(_)).sum()
      finally s.close()
    }
    def measured[T](f: => T): (T, Double) = {
      spark.catalog.clearCache() // a prior pass's persisted sample must not serve this one
      Calibrate.releaseSampled()
      timed(f)
    }
    def rowMap(df: DataFrame): Map[String, Long] = {
      val r = df.head()
      r.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.LongType)
        .map(f => f.name -> r.getLong(r.fieldIndex(f.name))).toMap
    }
    val mb = 1.0 / (1 << 20)
    // layout build: the once-per-snapshot cost every detection amortizes
    val (_, layBaseS) = timed { Calibrate.coinLayout(spark, base) }
    val (_, layGrownS) = timed { Calibrate.coinLayout(spark, out) }
    val (_, fullBaseS2) =
      measured { Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(docs)) }
    val (sampBase2, sampBaseS2) =
      measured { Calibrate.sampledParamsFromDocs(docs) }
    val (prBase, prBaseS) = measured {
      rowMap(Calibrate.calibrateSimilaritySampledPruned(spark, base)) }
    val (_, fullGrownS2) =
      measured { Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(grown)) }
    val (sampGrown2, sampGrownS2) =
      measured { Calibrate.sampledParamsFromDocs(grown) }
    val (prGrown, prGrownS) = measured {
      rowMap(Calibrate.calibrateSimilaritySampledPruned(spark, out)) }
    for ((samp, pr) <- Seq((sampBase2, prBase), (sampGrown2, prGrown));
         k <- Seq("sample_bp", "n_docs_sampled", "shingle_hot_df",
           "span_gram_cap", "simhash_bits"))
      require(samp(k) == pr(k),
        s"pruned detection must reproduce the scanning pass's $k: " +
          s"${pr(k)} vs ${samp(k)}")
    // full and sampled scanning passes read the corpus (full reads it
    // twice — shingle + gram relations share no scan); pruned reads its
    // kept blocks only
    println(s"""{"rebuild_probe":{"step":"detect_io",""" +
      s""""layout_base_s":${fmt(layBaseS)},"layout_grown_s":${fmt(layGrownS)},""" +
      s""""corpus_base_mb":${fmt(corpusBytes(base) * mb)},""" +
      s""""corpus_grown_mb":${fmt(corpusBytes(out) * mb)},""" +
      s""""pruned_base_mb":${fmt(prunedBytes(base, sampBase2("sample_bp")) * mb)},""" +
      s""""pruned_grown_mb":${fmt(prunedBytes(out, sampGrown2("sample_bp")) * mb)},""" +
      s""""full_base_s":${fmt(fullBaseS2)},"samp_base_s":${fmt(sampBaseS2)},""" +
      s""""pruned_base_s":${fmt(prBaseS)},""" +
      s""""full_grown_s":${fmt(fullGrownS2)},"samp_grown_s":${fmt(sampGrownS2)},""" +
      s""""pruned_grown_s":${fmt(prGrownS)},"params_match":true}}""")

    val stamp1 = Calibrate.currentSimhashParams(p1)
    require(stamp1 != stamp0,
      s"the $scale x corpus must move the rung (got ${p1.simhashBits} " +
        s"vs base ${p0.simhashBits}) — grow further")
    println(s"""{"rebuild_probe":{"step":"calibrate_grown",""" +
      s""""n_docs":${p1.nDocs},"bits":${p1.simhashBits},"sec":${fmt(calibS)}}}""")
    val (tookRebuild1, rebuildS) = timed {
      Indexes.appendToIndexOrRebuild(spark, base, tag,
        sigsAt(p0.simhashBits, batch), stamp1)(sigsAt(p1.simhashBits, grown))
    }
    require(tookRebuild1, "a flipped rung must take the rebuild branch")
    println(s"""{"rebuild_probe":{"step":"rebuild","n_docs":${p1.nDocs},""" +
      s""""bits":${p1.simhashBits},"sec":${fmt(rebuildS)}}}""")

    // 4. serve: the stored-scan fetch every later consumer pays
    def serveOnce(): Double = {
      spark.catalog.clearCache()
      val (_, s) = timed {
        Indexes.materializedIndex(spark, base, tag)(
          sys.error("rebuilt index must serve from the store"))
          .write.format("noop").mode("overwrite").save()
      }
      s
    }
    val serveS = math.min(serveOnce(), serveOnce())
    println(s"""{"rebuild_probe":{"step":"serve","sec":${fmt(serveS)}}}""")
    println(s"""{"metric":"rebuild_probe","base":"$base","scale":$scale,""" +
      s""""build_s":${fmt(buildS)},"append_s":${fmt(appendS)},""" +
      s""""calibrate_s":${fmt(calibS)},"rebuild_s":${fmt(rebuildS)},""" +
      s""""serve_s":${fmt(serveS)},"bits":"${p0.simhashBits}->${p1.simhashBits}"}}""")
    spark.stop()
  }
}
