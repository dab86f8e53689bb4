package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Calibrate

/** The calibration rules must (a) reproduce their documented integer
  * formulas, (b) track corpus growth the way the scaladoc log-n rules
  * say (the r12 verdict's "documented rule vs code" gap), and (c) stay
  * INVARIANT where the theory says they should — a namespaced S× corpus
  * has the same per-shingle df distribution scaled S×, and the budget
  * scales S× with it, so the df caps must not move. */
class CalibrateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("pure rules: planes formula, tables lookup monotone and clamped") {
    // planes = clamp(4, 24, ceil(log2(ceil(n/16))))
    assert(Twins.srpPlanesFor(1) === 4)
    assert(Twins.srpPlanesFor(256) === 4) // ceil(256/16)=16 -> 4
    assert(Twins.srpPlanesFor(257) === 5) // ceil -> 17 -> 5
    assert(Twins.srpPlanesFor(500) === 5)
    assert(Twins.srpPlanesFor(5000) === 9)
    assert(Twins.srpPlanesFor(Long.MaxValue / 2) === 24) // clamp
    // tables: monotone nondecreasing in planes, clamped to [4, 64]
    val tables = (4 to 24).map(Calibrate.srpTablesFor)
    assert(tables === tables.sorted)
    assert(tables.head >= 4 && tables.last <= 64)
    // more planes -> fewer per-table collisions -> needs MORE tables
    assert(Calibrate.srpTablesFor(12) > Calibrate.srpTablesFor(4))
    // simhash width ladder: md5 64 -> md5 128 -> sha256 256
    assert(Twins.simhashWidthFor(4) === 64)
    assert(Twins.simhashWidthFor(5) === 128)
    assert(Twins.simhashWidthFor(9) === 128)
    // the r13 10x-probe measurement: 50k docs calibrate to 12 bits/band,
    // past md5's 128/13 = 9 ceiling -> the sha256 ladder rung
    assert(Twins.simhashWidthFor(Twins.srpPlanesFor(50000)) === 256)
    // the r13 1000x probe sat exactly at planes 19 = the 256-bit
    // layout's weakest-band ceiling; the next decade now routes to the
    // 512 rung (r14) instead of firing the saturation flag
    assert(Twins.simhashWidthFor(19) === 256)
    assert(Twins.simhashWidthFor(20) === 512)
    assert(Twins.simhashWidthFor(Twins.srpPlanesFor(50000000L)) === 512)
    // and the ladder now covers the SRP rule's whole clamped range
    assert(Twins.simhashWidthFor(24) === 512)
  }

  test("fixture row: one row, rules reproduced, caps floored") {
    val r = Calibrate.params(spark, dir)
    assert(r.nDocs === 500)
    assert(r.srpPlanes === Twins.srpPlanesFor(r.nDocs))
    assert(r.srpTables === Calibrate.srpTablesFor(r.srpPlanes))
    // 500 docs need 5 bits per band > the 64-bit layout's 4 -> 128
    assert(r.simhashBits === 128 && r.simhashBandBits === 9)
    assert(!r.simhashSaturated)
    // at 500 docs BOTH families' pair-evidence (df >= 2) histogram mass
    // fits the 100*n budget -> the uncapped sentinel (r16 cap
    // semantics; note the jaccard ROUTE rule keys off the full sum_df2
    // including singletons, which exceeds the budget here — route and
    // cap answer different questions)
    assert(r.shingleHotDf === Calibrate.UncappedSentinel)
    assert(r.spanGramCap === Calibrate.UncappedSentinel)
    assert(r.nShingles > 0 && r.sumDf2 >= r.nPostings)
  }

  test("sampled calibration: rate rule decades, full pass at/under budget") {
    // at or under the 500-doc budget the rate is 10000 bp == full pass
    assert(Calibrate.sampleBpFor(0) === 10000L)
    assert(Calibrate.sampleBpFor(500) === 10000L)
    assert(Calibrate.sampleBpFor(4500) === 10000L) // ceil(4500/500)=9, 0 decades
    // one decade down per decade over budget -> sampled count stays
    // in [0.9 S, 9 S]: detection cost is FLAT across corpus decades
    assert(Calibrate.sampleBpFor(4501) === 1000L)
    assert(Calibrate.sampleBpFor(5000) === 1000L) // the sf0.1 fixture: 10%
    assert(Calibrate.sampleBpFor(49500) === 1000L) // ceil(n/500) = 99
    assert(Calibrate.sampleBpFor(49501) === 100L) // ceil(n/500) = 100
    assert(Calibrate.sampleBpFor(499501) === 10L) // ceil(n/500) = 1000
    assert(Calibrate.sampleBpFor(4999501) === 1L) // ceil(n/500) = 10000
    assert(Calibrate.sampleBpFor(Long.MaxValue / 2) === 1L) // floor
    // monotone nonincreasing
    val rates = (1 to 15).map(d => Calibrate.sampleBpFor(1L << (d + 8)))
    assert(rates === rates.sorted.reverse)
  }

  test("sampled calibration picks the SAME rung and caps as the full pass, fixture and 10x") {
    val docs = Tables.documents(spark, dir)
    // fixture (500 docs): at the budget -> the sampled pass IS the full
    // pass (bp = 10000), so equality is structural
    val full1 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(docs))
    val samp1 = Calibrate.sampledParamsFromDocs(docs)
    assert(samp1("sample_bp") === 10000L)
    assert(samp1("n_docs_sampled") === full1.nDocs)
    assert(samp1("shingle_hot_df") === full1.shingleHotDf)
    assert(samp1("span_gram_cap") === full1.spanGramCap)
    assert(samp1("simhash_bits") === full1.simhashBits.toLong)
    // 10x grown corpus (the namespaced null): the sampled pass runs a
    // GENUINE 10% sample (bp = 1000, ~500 of 5000 docs) and must land
    // on the same caps and rung as the full stats pass
    val scaled = (0 until 10).map { k =>
      if (k == 0) docs
      else docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    val full10 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(scaled))
    val samp10 = Calibrate.sampledParamsFromDocs(scaled)
    assert(samp10("sample_bp") === 1000L)
    assert(samp10("n_docs_sampled") > 0L &&
      samp10("n_docs_sampled") < full10.nDocs / 5,
      s"a 10% rate must actually sample: ${samp10("n_docs_sampled")}")
    assert(samp10("n_docs") === full10.nDocs) // n_docs stays EXACT
    assert(samp10("shingle_hot_df") === full10.shingleHotDf)
    assert(samp10("span_gram_cap") === full10.spanGramCap)
    assert(samp10("srp_planes") === full10.srpPlanes.toLong)
    assert(samp10("simhash_bits") === full10.simhashBits.toLong)
    assert(samp10("simhash_band_bits") === full10.simhashBandBits.toLong)
  }

  test("pruned sampled calibration == scanning pass, layout stamp exact, genuine pruned sample at 10x") {
    import graft.ops.Indexes
    // fixture (500 docs, bp = 10000): the pruned read keeps every block,
    // so equality with the scanning pass is structural
    val a = Calibrate.calibrateSimilaritySampled(spark, dir).collect().toSeq
    val b = Calibrate.calibrateSimilaritySampledPruned(spark, dir).collect().toSeq
    assert(b === a)
    // detection never re-counts the corpus: n_docs rides the layout stamp
    val st = Indexes.indexStamp(spark, dir, "coinlayout").get
    assert(st("n_docs") === Tables.documents(spark, dir).count())
    assert(st("coin_block_width") === Calibrate.CoinBlockWidth)
    // 10x snapshot in its own dir (the layout path reads a corpus DIR):
    // bp = 1000 → the pruned scan reads blocks 0-9 only and must land on
    // the scanning pass's row bit-for-bit (same coin, same estimators)
    val tmp = GraftSession.tempDir("graft_prune10x")
    val docs = Tables.documents(spark, dir)
    (0 until 10).map { k =>
      if (k == 0) docs
      else docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val s10 = Calibrate.calibrateSimilaritySampled(spark, tmp).collect().toSeq
    val p10 = Calibrate.calibrateSimilaritySampledPruned(spark, tmp).collect().toSeq
    assert(p10 === s10)
    val row = p10.head
    assert(row.getLong(row.fieldIndex("sample_bp")) === 1000L)
    assert(row.getLong(row.fieldIndex("n_docs_sampled")) <
      row.getLong(row.fieldIndex("n_docs")) / 5,
      "a 10% rate must actually sample through the pruned read")
  }

  test("10x namespaced corpus: planes grow with log n, df caps invariant") {
    val docs = Tables.documents(spark, dir)
    val scaled = (0 until 10).map { k =>
      if (k == 0) docs
      else docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    val p1 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(docs))
    val p10 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(scaled))
    assert(p10.nDocs === 10 * p1.nDocs)
    // log2(10) ~ 3.32: the bits-per-bucket rule adds 3 or 4 planes
    assert(p10.srpPlanes - p1.srpPlanes === 3 || p10.srpPlanes - p1.srpPlanes === 4)
    assert(p10.srpTables >= p1.srpTables)
    // namespacing keeps each copy's df distribution: Sigma df^2 scales
    // exactly 10x, and so does the 100*n budget -> the chosen caps and
    // the per-shingle histogram shape must NOT move
    assert(p10.sumDf2 === 10 * p1.sumDf2)
    assert(p10.sumC2 === 10 * p1.sumC2)
    assert(p10.shingleHotDf === p1.shingleHotDf)
    assert(p10.spanGramCap === p1.spanGramCap)
    // wider corpus keeps the 128-bit choice (never narrows back to 64)
    assert(p10.simhashBits >= p1.simhashBits)
  }

  test("degenerate corpora yield well-typed rows, not NPEs") {
    import spark.implicits._
    // empty corpus: counts 0, sums coalesce to 0; an empty histogram
    // trivially fits the budget, so the caps are the UNCAPPED sentinel
    // (r16 — nothing to cap is "no cap", not the floor)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val p0 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(empty))
    assert(p0.nDocs === 0 && p0.nShingles === 0 && p0.sumDf2 === 0)
    assert(p0.shingleHotDf === Calibrate.UncappedSentinel)
    assert(p0.spanGramCap === Calibrate.UncappedSentinel)
    // the n_docs = 0 guard: the un-guarded formula would evaluate
    // bin(-1) and clamp to MaxPlanes, spuriously saturating the ladder
    assert(p0.srpPlanes === 4 && p0.simhashBits === 64 && !p0.simhashSaturated)
    assert(p0.srpPlanes === Twins.srpPlanesFor(0))
    // all-short docs: no shingles/grams survive the length gates
    val shorts = Seq((1L, "one"), (2L, "two wd")).toDF("doc_id", "text")
    val p1 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(shorts))
    assert(p1.nDocs === 2 && p1.nShingles === 0 && p1.nGrams === 0)
    assert(p1.srpPlanes === 4 && p1.simhashBits === 64)
  }

  test("calibrated consumers: width routing and LSH output subset of exact") {
    val p = Calibrate.params(spark, dir)
    // the width the routed query serves (pinned end to end in the
    // declared rung routing test) follows the ladder from the planes
    assert(p.simhashBits === 128)
    assert(p.simhashBits === Twins.simhashWidthFor(p.srpPlanes))
    // the auto-parameterized SRP-LSH leg verifies candidates exactly, so
    // its pairs are a subset of the exact posting-join pairs
    val lsh = Calibrate.textTfidfCosineLshAuto(spark, dir)
      .select(col("a_id"), col("b_id"))
    val exact = ops.TextAnalysis.textTfidfCosine(spark, dir)
      .select(col("a_id"), col("b_id"))
    assert(lsh.exceptAll(exact).count() === 0)
  }

  test("declared rung routing: fixture serves 128 with the width pinned; every route selectable") {
    // end-to-end: the routed query == the 128-bit rung + pinned width
    val routed = Calibrate.dedupSimhashRouted(spark, dir)
    assert(routed.columns.toSeq ===
      Seq("a_id", "b_id", "hamming", "simhash_bits"))
    val got = routed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.forall(_._4 === 128L))
    val direct = ops.Dedup.dedupSimhash128(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === direct.toSeq)
    // selection rule: each rung reachable at its corpus decade (the
    // integer mirror the routed query and its oracle both consume)
    assert(Twins.simhashWidthFor(Twins.srpPlanesFor(100)) === 64)
    assert(Twins.simhashWidthFor(Twins.srpPlanesFor(500)) === 128)
    assert(Twins.simhashWidthFor(Twins.srpPlanesFor(50000)) === 256)
    assert(Twins.simhashWidthFor(Twins.srpPlanesFor(50000000L)) === 512)
  }

  test("jaccard routing: fixture exceeds the budget and serves the prefix join") {
    val p = Calibrate.params(spark, dir)
    assert(!Calibrate.jaccardRoutePlain(p),
      s"fixture shingle volume must exceed the budget: sum_df2=${p.sumDf2}")
    val routed = Calibrate.dedupNgramJaccardRouted(spark, dir).collect().toSeq
    val prefix = ops.Dedup.dedupNgramJaccardPrefix(spark, dir).collect().toSeq
    assert(routed === prefix)
    // both routes are lossless, so the routed contract is route-invariant
    val plain = ops.Dedup.dedupNgramJaccard(spark, dir).collect().toSeq
    assert(routed === plain)
    // a tiny distinct-shingle corpus fits the budget -> the plain route
    import spark.implicits._
    val tiny = (1L to 50L).map(id =>
      (id, (1 to 12).map(i => s"t${id}_$i").mkString(" "))).toDF("doc_id", "text")
    val pTiny = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(tiny))
    assert(Calibrate.jaccardRoutePlain(pTiny))
  }

  test("spans routing: fixture takes the uncapped route; planted boilerplate flips it") {
    import spark.implicits._
    // fixture: gram volume within budget -> uncapped, output == the
    // declared exact spans query
    val pFix = Calibrate.params(spark, dir)
    assert(Calibrate.spanRouteUncapped(pFix))
    val routedDf = Calibrate.dedupSubstringSpansRouted(spark, dir)
    // r15: the chosen route rides in the output so the oracle can replay
    // the decision (the r14 advice's exact-only-oracle gap)
    assert(routedDf.columns.last === "route")
    val routedRows = routedDf.collect()
    assert(routedRows.forall(_.getString(5) === "exact"))
    val routed = routedDf.drop("route").collect().toSeq
    val exact = ops.Dedup.dedupSubstringSpans(spark, dir).collect().toSeq
    assert(routed === exact && routed.nonEmpty)
    // planted boilerplate: 60 docs sharing one verbatim 12-token
    // header + a unique tail. The header's 3 positional 10-grams each
    // occur 60 times -> sum_c2 >= 3*60^2 = 10800 > 100*60 = 6000
    val header = (1 to 12).map(i => s"hdr$i").mkString(" ")
    val planted = (1L to 60L).map(id =>
      (id, s"$header u${id}a u${id}b u${id}c u${id}d")).toDF("doc_id", "text")
    val pHot = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(planted))
    assert(!Calibrate.spanRouteUncapped(pHot),
      s"planted boilerplate must blow the budget: sum_c2=${pHot.sumC2}")
    // the capped route drops the boilerplate grams BEFORE the window:
    // every occurrence count is either 60 (header grams, over any cap
    // in [16, 59]) or 1, so the capped span set is EMPTY while the
    // uncapped one covers the header in every doc
    assert(pHot.spanGramCap >= 16 && pHot.spanGramCap < 60)
    val uncapped = ops.Dedup.spansFromDocs(planted)
    val capped = ops.Dedup.spansFromDocs(planted, dfCap = pHot.spanGramCap)
    assert(uncapped.count() === 60 && capped.count() === 0)
  }

  test("containment routing: calibrated hot_df pinned, prune lossless at any threshold") {
    // the calibrated consumer == the declared fixed-256 query minus the
    // pinned column (the prefix theorem holds for EVERY fixed global
    // order, so the hot threshold moves cost, never results)
    val p = Calibrate.storedParams(spark, dir)
    val routedDf = Calibrate.dedupContainmentRouted(spark, dir)
    val routedRows = routedDf.collect()
    assert(routedRows.nonEmpty)
    assert(routedRows.forall(_.getLong(3) === p.shingleHotDf),
      "the consumed calibrated threshold must be pinned into every row")
    val routed = routedDf.drop("hot_df").collect().toSeq
    val declared = ops.Dedup.dedupContainment(spark, dir).collect().toSeq
    assert(routed === declared)
    // and at a pathological threshold (everything hot) the pair set
    // still doesn't move — only the prefix order does
    val allHot = ops.Dedup.containmentPairs(spark, dir, hotDf = 1L)
      .collect().toSeq
    assert(allHot === declared)
  }

  test("minhash banding rule: S-curve fixed point at 0.5, rung monotone, fixture pin") {
    // b = 2^r puts the collision S-curve's fixed point EXACTLY at the
    // declared 0.5 threshold on every rung: (1/b)^(1/r) = 0.5
    for (r <- 4 to 8) {
      val b = Calibrate.minhashBandsFor(r)
      assert(b === (1 << r))
      assert(math.abs(math.pow(1.0 / b, 1.0 / r) - 0.5) < 1e-12)
    }
    // corpus rung: one row per 16x growth, clamped to [4, 8]
    assert(Calibrate.minhashRowsFor(0) === 4)
    assert(Calibrate.minhashRowsFor(1) === 4)
    assert(Calibrate.minhashRowsFor(500) === 4) // fixture sf0.001
    assert(Calibrate.minhashRowsFor(5000) === 4) // fixture sf0.01
    assert(Calibrate.minhashRowsFor(1L << 16) === 4)
    assert(Calibrate.minhashRowsFor((1L << 16) + 1) === 5)
    assert(Calibrate.minhashRowsFor(1L << 20) === 5)
    assert(Calibrate.minhashRowsFor((1L << 20) + 1) === 6)
    assert(Calibrate.minhashRowsFor(1L << 24) === 6)
    assert(Calibrate.minhashRowsFor((1L << 28) + 1) === 8)
    assert(Calibrate.minhashRowsFor(Long.MaxValue / 2) === 8) // clamp
    // monotone nondecreasing across decades
    val rungs = (1 to 12).map(d => Calibrate.minhashRowsFor(math.pow(10, d).toLong))
    assert(rungs === rungs.sorted)
  }

  test("declared minhash routing: fixture serves (4, 16) pinned; pair set == teaching config") {
    val p = Calibrate.storedParams(spark, dir)
    assert(Calibrate.minhashRowsFor(p.nDocs) === 4)
    val routedDf = Calibrate.dedupMinhashRouted(spark, dir)
    assert(routedDf.columns.toSeq ===
      Seq("a_id", "b_id", "jaccard", "mh_rows", "mh_bands"))
    val rows = routedDf.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) === 4L && r.getLong(4) === 16L),
      "the consumed calibrated banding must be pinned into every row")
    // verification is exact and the 16-band candidates are a strict
    // superset of the 8-band config's (shared permutation constants): the
    // calibrated 16-band rung reproduces the frozen 8x4 teaching
    // config's pair set (which DedupSpec pins == brute-force Jaccard)
    val routed = routedDf.drop("mh_rows", "mh_bands").collect().toSeq
    val teaching = ops.Dedup.dedupMinhashLsh(spark, dir).collect().toSeq
    assert(routed === teaching)
  }

  test("stored calibration: fresh on the immutable fixture, stale after snapshot growth") {
    import spark.implicits._
    assert(!Calibrate.storedCalibrationIsStale(spark, dir))
    // simulate a VIOLATED snapshot contract: a corpus dir whose
    // documents.parquet is overwritten in place after calibration
    val tmp = GraftSession.tempDir("graft_snapshot_demo")
    def writeDocs(n: Long): Unit = (1L to n)
      .map(id => (id, (1 to 12).map(i => s"d${id}_$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    writeDocs(40)
    assert(Calibrate.storedParams(spark, tmp).nDocs === 40)
    assert(!Calibrate.storedCalibrationIsStale(spark, tmp))
    writeDocs(80) // in-place mutation — the contract the audit catches
    assert(Calibrate.storedCalibrationIsStale(spark, tmp))
  }
}
