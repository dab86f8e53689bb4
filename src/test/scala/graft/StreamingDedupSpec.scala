package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDedup

/** Streaming near-dup admission ≡ batch probe, across two appended
  * snapshots. Drives the full daily motion: build stored index → stream
  * batch 1 → append batch 1's bands → stream batch 2 → batch 2's
  * rejections include dups against batch-1 docs (the cross-snapshot
  * catch a rebuild-per-batch design would also get, but at O(corpus)
  * per batch instead of O(batch)). */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def runStream(residue: Int, sinkName: String): Set[(Long, Long, Double)] = {
    // stage the residue's docs as 3 files so the probe spans micro-batches
    val staged = GraftSession.tempDir("graft_dedup_feed")
    Tables.documents(spark, dir).filter(StreamingDedup.residuePred(residue))
      .repartition(3).write.mode("overwrite").parquet(staged)
    val stream = StreamingDedup.admissionFilter(spark, dir,
      StreamingDedup.readNewDocsStream(spark, staged))
    val q = stream.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def truth(newRes: Int, corpusResidues: Seq[Int]): Set[(Long, Long, Double)] =
    StreamingDedup.batchTruth(spark, dir,
        StreamingDedup.residuePred(newRes),
        StreamingDedup.residuePred(corpusResidues: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("snapshot 1: streamed rejections == batch probe vs the stored corpus index") {
    StreamingDedup.corpusBandIndex(spark, dir) // build the stored index
    val streamed = runStream(0, "dedup_stream_b1")
    val expected = truth(0, Seq(1, 2, 3, 4, 6, 7, 8, 9))
    assert(streamed === expected)
    assert(streamed.nonEmpty, "fixture has no res-0 near-dups to admit-filter")
    streamed.foreach { case (_, dupOf, j) =>
      assert(dupOf % 10 != 0 && dupOf % 10 != 5, "dup_of outside the corpus")
      assert(j >= 0.5)
    }
  }

  test("snapshot 2 after append: batch-2 dups against batch-1 docs are caught") {
    StreamingDedup.corpusBandIndex(spark, dir)
    // same-rung day: the recovery path takes the cheap append branch.
    // corpusSoFar (base + this batch) is the caller's REQUIRED
    // obligation — it is only consumed on the rebuild branch.
    val rebuilt = StreamingDedup.appendBatch(spark, dir,
      Tables.documents(spark, dir).filter(StreamingDedup.residuePred(0)))(
      Tables.documents(spark, dir).filter(!StreamingDedup.residuePred(5)))
    assert(!rebuilt, "a same-rung batch must append, not rebuild")
    val streamed = runStream(5, "dedup_stream_b2")
    val expected = truth(5, Seq(0, 1, 2, 3, 4, 6, 7, 8, 9))
    assert(streamed === expected)
    assert(streamed.exists(_._2 % 10 == 0),
      "no cross-snapshot catch: fixture should have a res5~res0 near-dup pair")
  }

  test("a banding rung crossing mid-stream transparently rebuilds the gate's index") {
    import graft.ops.{Calibrate, Dedup, Indexes}
    // day 0: the stored index at the fixture's calibrated banding (4, 16)
    StreamingDedup.corpusBandIndex(spark, dir)
    val p0 = StreamingDedup.bandingParams(spark, dir)
    assert(p0 === Map("minhash_rows" -> 4L, "minhash_bands" -> 16L))
    assert(Indexes.indexStamp(spark, dir, "mhbands") === Some(p0))

    // the corpus-so-far crosses the 2^16-doc banding rung: the
    // calibrator now answers (5, 32) — the day the old throwing append
    // would have crashed the ingest job (r15 verdict #3)
    val p1Rows = Calibrate.minhashRowsFor((1L << 16) + 1)
    assert(p1Rows === 5)
    val p1 = Map("minhash_rows" -> p1Rows.toLong,
      "minhash_bands" -> Calibrate.minhashBandsFor(p1Rows).toLong)
    val batch = Tables.documents(spark, dir)
      .filter(StreamingDedup.residuePred(0))
    val corpusSoFar = Tables.documents(spark, dir)
      .filter(!StreamingDedup.residuePred(5))
    val rebuilt = StreamingDedup.appendBatchAt(spark, dir, batch, p1)(corpusSoFar)
    assert(rebuilt, "a flipped banding rung must take the rebuild branch")
    assert(Indexes.indexStamp(spark, dir, "mhbands") === Some(p1))

    // the rebuilt index is the corpus-so-far banded at the NEW rung,
    // row for row — later micro-batches probe a coherent artifact
    val served = Indexes.materializedIndex(spark, dir, "mhbands")(
      sys.error("rebuilt index must serve from the store"))
    val expect = Dedup.bandedSigs(Dedup.shingled(corpusSoFar),
      rows = 5, bands = 32)
    assert(served.count() === expect.count())
    assert(served.exceptAll(expect).isEmpty && expect.exceptAll(served).isEmpty)

    // LAYOUT COHERENCE across the crossing (the r16 review's finding):
    // the stream side must band at the rebuilt index's stamp (5, 32),
    // not the base snapshot's calibrated (4, 16) — streamed rejections
    // against the re-rung index still equal the batch truth
    val streamed = runStream(5, "dedup_stream_rerung")
    val expected = StreamingDedup.batchTruth(spark, dir,
        StreamingDedup.residuePred(5), !StreamingDedup.residuePred(5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty, "re-rung gate must still catch dups")

    // restore the fixture-rung index for any later consumer in this
    // session (the other tests build through corpusBandIndex's stamp)
    Indexes.rebuildIndex(spark, dir, "mhbands", p0)(
      Dedup.bandedSigs(Dedup.shingled(Tables.documents(spark, dir)
        .filter(!StreamingDedup.residuePred(0, 5))), rows = 4, bands = 16))
  }
}
