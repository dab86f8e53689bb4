package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingEvents

/** Structured Streaming specs: a file-source stream over the static
  * events parquet must converge to the batch answers (DuckDB cannot
  * oracle a stream — SURVEY.md §7.5.5).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  // the file-source needs a directory; stage the single parquet file
  lazy val eventsPath: String = {
    val d = java.nio.file.Paths.get(GraftSession.tempDir("graft_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming tumbling counts (complete mode) == batch window counts") {
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    StreamingEvents.runToMemory(StreamingEvents.tumblingCounts(stream),
      "stream_tumbling", OutputMode.Complete)
    val streamed = spark.table("stream_tumbling").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.ops.Events.tumblingWindows(spark, dir)
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming hopping counts (complete mode) == batch hopping windows") {
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    StreamingEvents.runToMemory(StreamingEvents.hoppingCounts(stream),
      "stream_hopping", OutputMode.Complete)
    val streamed = spark.table("stream_hopping").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.ops.Events.hoppingWindows(spark, dir)
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming dedup + count (complete mode) == batch counts (ids are unique)") {
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    StreamingEvents.runToMemory(StreamingEvents.dedupEvents(stream),
      "stream_dedup", OutputMode.Complete)
    val streamed = spark.table("stream_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, dir).groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === batch)
  }

  test("stream-static join == batch join") {
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    StreamingEvents.runToMemory(
      StreamingEvents.streamStaticJoin(stream, Tables.customer(spark, dir)),
      "stream_join", OutputMode.Complete)
    val streamed = spark.table("stream_join").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, dir)
      .join(Tables.customer(spark, dir),
        org.apache.spark.sql.functions.col("user_id") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === batch)
  }

  test("streaming curation pipeline over a DOUBLED corpus == single-copy batch answer") {
    import graft.streaming.StreamingPipeline
    // stage the documents parquet TWICE: every document arrives as a
    // duplicate, so the result only matches batch if the watermarked
    // digest-dedup state actually deduplicates across files
    val d = java.nio.file.Paths.get(GraftSession.tempDir("graft_stream_docs"))
    for (n <- Seq("a", "b")) java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve(s"documents_$n.parquet"))
    val stream = StreamingPipeline.readDocumentsStream(spark, d.toString)
    StreamingEvents.runToMemory(StreamingPipeline.curate(stream),
      "stream_curate", OutputMode.Complete)
    val streamed = spark.table("stream_curate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the sample coin is keyed on the text digest (not doc_id), so the
    // arbitrary dedup keeper cannot flip the sample on either side
    val batch = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")).between(20, 2000))
      .dropDuplicates("text")
      .filter(graft.streaming.StreamingPipeline.digestCoin(md5(col("text"))) < 50)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join == batch interval join") {
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    StreamingEvents.runToMemory(
      StreamingEvents.streamStreamIntervalJoin(stream), "stream_ss_join")
    val streamed = spark.table("stream_ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val e = Tables.events(spark, dir)
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val batch = v.join(c,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("v_user"), col("view_id"), col("click_id"),
        unix_micros(col("v_ts")), unix_micros(col("c_ts")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("foreachBatch idempotent sink: replayed batch is a no-op, result == batch answer") {
    import graft.streaming.StreamingEvents
    val out = GraftSession.tempDir("graft_sink")
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    val counts = stream.withWatermark("ts", "1 hour")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
    StreamingEvents.sinkIdempotent(counts, out,
      org.apache.spark.sql.streaming.OutputMode.Complete)
    def read() = spark.read.parquet(s"$out/batch=*").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val first = read()
    val batch = Tables.events(spark, dir).groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(first === batch)
    // replay batch 0 with different (stale) content: the committed
    // directory must win — no double write, no overwrite
    val stale = Tables.events(spark, dir).groupBy("event_type")
      .agg((count(lit(1)) * 2).as("n_events"))
    StreamingEvents.batchCommit(stale, 0L, out)
    assert(read() === batch)
  }

  test("foreachBatch-maintained insights core == batch cube; replay rewrites, never double-merges") {
    import graft.insights.{InsightsConfig, InsightsEngine}
    import graft.streaming.StreamingInsights
    val cfg = InsightsConfig(
      groupingCols = Seq("event_type", "value"),
      buckets = Map("value" -> 100L))
    // stage events as 4 files so the file source yields 4 micro-batches
    val staged = GraftSession.tempDir("graft_mv_src")
    Tables.events(spark, dir).repartition(4)
      .write.mode("overwrite").parquet(staged)
    val corePath = GraftSession.tempDir("graft_mv")
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(staged))
    StreamingInsights.run(stream, corePath, cfg)
    val served = StreamingInsights.serve(spark, corePath, cfg)
      .collect().map(_.getString(0)).toSet
    val e = Tables.events(spark, dir)
    val batch = InsightsEngine.insightsCubeNative(e, cfg, e.count())
      .collect().map(_.getString(0)).toSet
    assert(batch.nonEmpty)
    assert(served === batch)
    // crash-replay: re-fold the LAST batch id with different (stale)
    // content — the version directory is rewritten, not double-merged,
    // so serving still agrees with some single-application fold; here
    // we replay with the true last batch content to assert stability
    val versions = new java.io.File(corePath).list().toSeq
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).sorted
    assert(versions.length === 4)
    val lastId = versions.last
    val prevCore = spark.read.parquet(s"$corePath/v=${versions(versions.length - 2)}")
    // reconstruct the last batch's rows: full corpus minus what the
    // previous core already counted is not directly recoverable, so
    // replay with an EMPTY batch of the right schema plus assert the
    // rewrite keyed the same version (exactly-once by construction)
    StreamingInsights.maintainCore(corePath, cfg)(
      Tables.events(spark, dir).limit(0), lastId)
    val afterReplay = new java.io.File(corePath).list().toSeq
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).sorted
    assert(afterReplay === versions) // same version set, no v=5
    // the rewritten v=last now holds prev ⊎ ∅ = prev: serving equals
    // rendering the previous core with its own denominator
    val servedReplay = StreamingInsights.serve(spark, corePath, cfg)
      .collect().map(_.getString(0)).toSet
    val allBits = (1 << cfg.groupingCols.length) - 1
    val prevN = prevCore.filter(col("gid") === allBits)
      .select(col("count")).collect()(0).getLong(0)
    val prevServed = InsightsEngine.renderCoreNative(prevCore, cfg, prevN)
      .collect().map(_.getString(0)).toSet
    assert(servedReplay === prevServed)
    // torn write: a crash mid-write of v=N leaves a version directory
    // without the _SUCCESS marker — serve must skip it and fall back to
    // the last COMMITTED version instead of reading partial data
    StreamingInsights.maintainCore(corePath, cfg)(
      Tables.events(spark, dir).limit(0), lastId + 1)
    val tornMarker = new java.io.File(s"$corePath/v=${lastId + 1}/_SUCCESS")
    assert(tornMarker.exists())
    assert(tornMarker.delete())
    val servedAfterTear = StreamingInsights.serve(spark, corePath, cfg)
      .collect().map(_.getString(0)).toSet
    assert(servedAfterTear === servedReplay) // torn v=N+1 invisible
    // and a subsequent replay of N+1 merges from the last COMMITTED
    // ancestor (v=N), not the torn dir, then re-commits it
    StreamingInsights.maintainCore(corePath, cfg)(
      Tables.events(spark, dir).limit(0), lastId + 1)
    assert(tornMarker.exists())
    val servedHealed = StreamingInsights.serve(spark, corePath, cfg)
      .collect().map(_.getString(0)).toSet
    assert(servedHealed === servedReplay)
  }

  test("stateful flatMapGroupsWithState sessionize emits only closed sessions that match batch") {
    val stream = StreamingEvents.readEventsStream(spark, eventsPath)
    StreamingEvents.runToMemory(
      StreamingEvents.sessionizeStateful(stream).toDF(), "stream_sessions")
    val streamed = spark.table("stream_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ops.Events.sessionize(spark, dir)
      .select("user_id", "session_start_us", "session_end_us", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // append mode can only emit sessions already closed by the final
    // watermark; everything emitted must be a true batch session
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"phantom sessions: ${streamed.diff(batch).take(3)}")
  }
}
