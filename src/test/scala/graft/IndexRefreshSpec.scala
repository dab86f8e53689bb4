package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Indexes, Similarity}

/** The daily-snapshot index refresh motion (r9 verdict #5): build the
  * stored index on a base slice, append one batch's rows as a second
  * parquet commit, and verify that probes served from the MERGED scan
  * are row-identical to probes of a full rebuild. Sound because the LSH
  * signature is a per-vector artifact of frozen hyperplanes — the batch
  * rows are bit-identical whether built alone or with the corpus. */
class IndexRefreshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("appended LSH index == full rebuild, for both contents and probes") {
    val tag = "lshsig_refresh_demo"
    val isBase = col("vec_id") % 10 =!= 0 // base snapshot: 90% of vectors
    // built STAMPED (r15 advice: every build stamps — an unstamped dir
    // would refuse the checked append below rather than pass vacuously)
    val base = Indexes.materializedIndexStamped(spark, dir, tag,
      Similarity.lshIndexParams)(
      Similarity.buildLshSignatures(spark, dir).where(isBase))
    val nBase = base.count()
    assert(nBase > 0)

    // the daily batch arrives: signatures for the NEW vectors only,
    // appended to the stored index dir as a second commit (through the
    // checked overload — the only public append; the stamp matches the
    // frozen hyperplane params, so the staleness check passes)
    Indexes.appendToIndex(spark, dir, tag,
      Similarity.buildLshSignatures(spark, dir).where(!isBase),
      Similarity.lshIndexParams)

    // the next consumer re-reads the dir — merged scan, NOT a rebuild
    // (the build thunk throwing proves no rebuild happens)
    val merged = Indexes.materializedIndex(spark, dir, tag)(
      sys.error("append must re-read the stored index, not rebuild it"))

    // contents: merged == full rebuild, row for row
    val full = Similarity.buildLshSignatures(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("norm2"), col("buckets"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .toSet
    assert(rows(merged) === rows(full))
    assert(merged.count() === full.count()) // no dup rows either

    // probes: ANN top-3 served from the merged index is row-identical to
    // the declared query's (which probes the normal full-corpus index)
    def probes(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toList
    assert(probes(Similarity.lshAnnTopKFrom(merged)) ===
      probes(Similarity.lshAnnTopK(spark, dir)))
  }

  test("appendToIndex refuses a tag that was never built") {
    intercept[IllegalArgumentException] {
      Indexes.appendToIndex(spark, dir, "never_built_tag",
        Similarity.buildLshSignatures(spark, dir).limit(1),
        Similarity.lshIndexParams)
    }
  }

  test("an UNSTAMPED build is stale and refuses the checked append (fail closed)") {
    // a plain materializedIndex build carries no parameter stamp: its
    // freshness is unprovable, so the checked append must refuse rather
    // than pass vacuously (r15 advice — the silent-rung-mix hole)
    val tag = "unstamped_demo"
    Indexes.materializedIndex(spark, dir, tag)(
      Similarity.buildLshSignatures(spark, dir).limit(10)).count()
    assert(Indexes.indexStamp(spark, dir, tag).isEmpty)
    assert(Indexes.isStale(spark, dir, tag, Similarity.lshIndexParams))
    val err = intercept[IllegalArgumentException] {
      Indexes.appendToIndex(spark, dir, tag,
        Similarity.buildLshSignatures(spark, dir).limit(0),
        Similarity.lshIndexParams)
    }
    assert(err.getMessage.contains("no parameter stamp"))
    // the recovery path treats it like any staleness: transparent rebuild
    val rebuilt = Indexes.appendToIndexOrRebuild(spark, dir, tag,
      Similarity.buildLshSignatures(spark, dir).limit(0),
      Similarity.lshIndexParams)(Similarity.buildLshSignatures(spark, dir))
    assert(rebuilt)
    assert(Indexes.indexStamp(spark, dir, tag) === Some(Similarity.lshIndexParams))
  }

  test("cold start: appendToIndexOrRebuild on a never-built index takes the build branch") {
    // r15 advice: the production 'detect -> rebuild -> proceed' path must
    // not crash on day zero — a missing build IS the rebuild case
    val tag = "cold_start_demo"
    val built = Indexes.appendToIndexOrRebuild(spark, dir, tag,
      Similarity.buildLshSignatures(spark, dir).limit(0),
      Similarity.lshIndexParams)(Similarity.buildLshSignatures(spark, dir))
    assert(built)
    assert(Indexes.indexStamp(spark, dir, tag) === Some(Similarity.lshIndexParams))
    assert(!Indexes.isStale(spark, dir, tag, Similarity.lshIndexParams))
    // and the now-built index takes the cheap append branch
    val again = Indexes.appendToIndexOrRebuild(spark, dir, tag,
      Similarity.buildLshSignatures(spark, dir).limit(0),
      Similarity.lshIndexParams)(
      sys.error("a fresh stamped index must append, not rebuild"))
    assert(!again)
  }

  test("stored index stamped with build params; LSH index carries its stamp") {
    Indexes.lshSignatures(spark, dir).count() // force the build
    assert(Indexes.indexStamp(spark, dir, "lshsig")
      === Some(Similarity.lshIndexParams))
    assert(!Indexes.isStale(spark, dir, "lshsig", Similarity.lshIndexParams))
  }

  test("a grown corpus flips the calibrated rung and the stale index is detected") {
    import graft.ops.{Calibrate, Dedup}
    val docs = Tables.documents(spark, dir)

    // today's snapshot: 500 docs calibrate to the 128-bit rung
    val p0 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(docs))
    assert(p0.simhashBits === 128)
    val stamp0 = Calibrate.currentSimhashParams(p0)

    // build + stamp a stored signature index at that rung
    val tag = "simhash_rung_demo"
    Indexes.materializedIndexStamped(spark, dir, tag, stamp0)(
      Dedup.simhash128Signatures(docs)).count()
    assert(Indexes.indexStamp(spark, dir, tag) === Some(stamp0))
    assert(!Indexes.isStale(spark, dir, tag, stamp0))

    // the checked append goes through while the rung still matches
    Indexes.appendToIndex(spark, dir, tag,
      Dedup.simhash128Signatures(docs).limit(0), stamp0)

    // the corpus grows 17x (re-keyed replicas, the StressScale motion):
    // 8500 docs need planes 10 > 9, so the calibrator moves to 256 bits
    val grown = docs.crossJoin(spark.range(17).select(col("id").as("rep")))
      .select((col("doc_id") * 17 + col("rep")).as("doc_id"), col("text"))
    val p1 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(grown))
    assert(p1.simhashBits === 256)
    val stamp1 = Calibrate.currentSimhashParams(p1)

    // the stored index is now STALE against the calibrator's answer,
    // and the checked append refuses, naming both parameter sets
    assert(Indexes.isStale(spark, dir, tag, stamp1))
    val err = intercept[IllegalArgumentException] {
      Indexes.appendToIndex(spark, dir, tag,
        Dedup.simhash128Signatures(docs).limit(0), stamp1)
    }
    assert(err.getMessage.contains("STALE"))
    assert(err.getMessage.contains("simhash_bits=128")
      || err.getMessage.contains("128"))
    assert(err.getMessage.contains("256"))

    // the stamp is ON DISK beside the index: it survives the cache drop
    // the earlier (successful) append performed
    assert(Indexes.indexStamp(spark, dir, tag) === Some(stamp0))
  }

  test("a stale index TRANSPARENTLY rebuilds through appendToIndexOrRebuild") {
    import graft.ops.{Calibrate, Dedup}
    val docs = Tables.documents(spark, dir)
    val p0 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(docs))
    val stamp0 = Calibrate.currentSimhashParams(p0)
    assert(p0.simhashBits === 128)

    // day 0: build + stamp at the 128-bit rung
    val tag = "simhash_rung_recovery_demo"
    Indexes.materializedIndexStamped(spark, dir, tag, stamp0)(
      Dedup.simhash128Signatures(docs)).count()

    // fresh-rung day: the recovery path takes the cheap APPEND branch
    // (returns false), and the rebuild thunk must not run
    val appended = Indexes.appendToIndexOrRebuild(spark, dir, tag,
      Dedup.simhash128Signatures(docs).limit(0), stamp0)(
      sys.error("fresh stamp must append, not rebuild"))
    assert(!appended)
    assert(Indexes.indexStamp(spark, dir, tag) === Some(stamp0))

    // the corpus grows 17x and the calibrator moves to the 256-bit rung
    val grown = docs.crossJoin(spark.range(17).select(col("id").as("rep")))
      .select((col("doc_id") * 17 + col("rep")).as("doc_id"), col("text"))
    val p1 = Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(grown))
    assert(p1.simhashBits === 256)
    val stamp1 = Calibrate.currentSimhashParams(p1)
    assert(Indexes.isStale(spark, dir, tag, stamp1))

    // the SAME call now takes the REBUILD branch: the old-rung batch is
    // discarded, the index is rebuilt at the new rung over the grown
    // corpus, and the stamp on disk is replaced — no crash, job proceeds
    val rebuilt = Indexes.appendToIndexOrRebuild(spark, dir, tag,
      Dedup.simhash128Signatures(docs).limit(0), stamp1)(
      Dedup.simhash256Signatures(grown))
    assert(rebuilt)
    assert(Indexes.indexStamp(spark, dir, tag) === Some(stamp1))
    assert(!Indexes.isStale(spark, dir, tag, stamp1))

    // consumers are green against the new artifact: the stored scan is
    // the 256-bit rebuild over the grown corpus, row-for-row
    val served = Indexes.materializedIndex(spark, dir, tag)(
      sys.error("rebuilt index must be served, not rebuilt again"))
    val expect = Dedup.simhash256Signatures(grown)
    assert(served.count() === expect.count())
    assert(served.count() === grown.count())
    assert(served.exceptAll(expect).isEmpty && expect.exceptAll(served).isEmpty)
  }

  test("mid-session corpus growth flips the minhash rung and the CHECKED SERVE rebuilds mhpairs_routed") {
    // r16 verdict #1: materializedIndexStamped used to write the stamp
    // when absent and never compare an existing one — a consumer whose
    // calibrator had moved would serve OLD-rung pairs under NEW-rung
    // literals. This drives the full chain: grown corpus → refreshed
    // stored calibration → the SAME declared-query call detects the
    // stamp mismatch on serve and rebuilds at the new rung.
    import org.apache.spark.sql.functions._
    import graft.ops.Calibrate
    val tmp = GraftSession.tempDir("graft_rungflip")
    def corpus(from: Long, until: Long) = spark.range(from, until).select(
      col("id").as("doc_id"),
      when(col("id").isin(498L, 499L), lit("alpha beta gamma delta epsilon"))
        .otherwise(concat(
          lit("a"), col("id").cast("string"), lit(" b"), col("id").cast("string"),
          lit(" c"), col("id").cast("string"), lit(" d"), col("id").cast("string")))
        .as("text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // v1 snapshot: 500 docs → the (rows 4, bands 16) rung, one planted dup
    corpus(0L, 500L).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r1 = Calibrate.dedupMinhashRouted(spark, tmp).collect()
    assert(r1.head.getLong(r1.head.fieldIndex("mh_rows")) === 4L)
    assert(Indexes.indexStamp(spark, tmp, "mhpairs_routed")
      === Some(Map("minhash_rows" -> 4L, "minhash_bands" -> 16L)))
    assert(r1.map(r => (r.getLong(0), r.getLong(1))).contains((498L, 499L)))

    // the corpus grows past 2^16 docs mid-session: bits 17 → rows 5
    corpus(500L, 66500L).write.mode("append").parquet(s"$tmp/documents.parquet")
    Calibrate.refreshStoredCalibration(spark, tmp)

    // the SAME serve call now rebuilds at the new rung and re-stamps —
    // new-rung literals can never ride old-rung stored pairs
    val r2 = Calibrate.dedupMinhashRouted(spark, tmp).collect()
    assert(r2.head.getLong(r2.head.fieldIndex("mh_rows")) === 5L)
    assert(r2.head.getLong(r2.head.fieldIndex("mh_bands")) === 32L)
    assert(Indexes.indexStamp(spark, tmp, "mhpairs_routed")
      === Some(Map("minhash_rows" -> 5L, "minhash_bands" -> 32L)))
    assert(r2.map(r => (r.getLong(0), r.getLong(1))).contains((498L, 499L)),
      "the planted dup must survive the rung flip (recall monotone, verification exact)")
  }

  test("a foreign mhbands stamp fails closed: the gate rebuilds at the calibrated banding") {
    // r16 advice: activeBanding's unchecked map lookups threw
    // NoSuchElementException on a legacy stamp (pre-r16 minhash_perms/
    // bands keys) instead of recovering; probing legacy-built rows at a
    // guessed layout would silently admit dups.
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    import graft.streaming.StreamingDedup
    val tmp = GraftSession.tempDir("graft_foreignstamp")
    spark.range(200).select(col("id").as("doc_id"),
        concat(lit("p"), col("id").cast("string"), lit(" q"),
          col("id").cast("string"), lit(" r"), col("id").cast("string")).as("text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val calibrated = StreamingDedup.bandingParams(spark, tmp)
    StreamingDedup.corpusBandIndex(spark, tmp).count()
    assert(Indexes.indexStamp(spark, tmp, "mhbands") === Some(calibrated))

    // a legacy artifact lands: same row shape, pre-r16 stamp keys
    Indexes.rebuildIndex(spark, tmp, "mhbands",
      Map("minhash_perms" -> 32L, "bands" -> 8L))(
      Dedup.bandedSigs(Dedup.shingled(
        Tables.documents(spark, tmp)), rows = 4, bands = 8))
    val active = StreamingDedup.activeBanding(spark, tmp)
    assert(active === calibrated,
      "a key-invalid stamp must rebuild at the calibrated banding, not throw")
    assert(Indexes.indexStamp(spark, tmp, "mhbands") === Some(calibrated))
  }

  test("storedParams == per-call params, served from the snapshot artifact") {
    import graft.ops.Calibrate
    val direct = Calibrate.params(spark, dir)
    val stored = Calibrate.storedParams(spark, dir)
    assert(stored === direct)
    // second fetch is served from the stored artifact (no rebuild): the
    // build thunk throwing proves the materialized row is reused
    val again = Calibrate.paramsFromDocs(
      Indexes.materializedIndex(spark, dir, "calibration")(
        sys.error("stored calibration must be reused, not rebuilt")))
    assert(again === direct)
  }
}
