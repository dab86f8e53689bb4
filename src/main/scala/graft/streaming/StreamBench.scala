package graft.streaming

import org.apache.spark.sql.functions._

/** Micro-batch latency/throughput figures for the Structured Streaming
  * surface — the one mandated component with no possible DuckDB oracle,
  * so a measured number is the only externally checkable signal
  * (StreamingSpec pins CORRECTNESS by converging streams to batch
  * answers; this main pins PERFORMANCE).
  *
  * Method: the sf events table is re-written as N time-ordered parquet
  * files (repartitionByRange on ts, so arrival order approximates event
  * order, like a log shipper), then streamed with maxFilesPerTrigger=1 —
  * N micro-batches. Per-query figures come from the engine's own
  * StreamingQueryProgress: median/max triggerExecution latency and
  * total-rows/wall throughput. Stateful queries (session_window,
  * flatMapGroupsWithState dedup) exercise the state store per batch.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "20").toInt
    val spark = graft.GraftSession.local(graft.GraftSession.cpus())

    val stage = graft.GraftSession.tempDir("graft_stream")
    // SOAK mode (r6 verdict #7): SPARK_GRAFT_STREAM_REPLICATE=N unions N
    // time-SHIFTED copies of the events table (copy i moved forward by
    // i × (span + 1 h)) — a continuous multi-month event log, so a
    // 100-batch run at 10-20× the r6 batch size can show state staying
    // FLAT under watermark eviction (old windows/sessions close as event
    // time advances) instead of merely small on a 20-batch blip.
    val replicate = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPLICATE", "1").toInt
    val base = graft.Tables.events(spark, sfDir)
    val src0 =
      if (replicate == 1) base
      else {
        val span = base
          .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))) +
            3600L * 1000000L).as("span"))
          .head().getLong(0)
        (0 until replicate).map { i =>
          base.withColumn("ts",
            timestamp_micros(unix_micros(col("ts")) + lit(i.toLong * span)))
        }.reduce(_ unionByName _)
      }
    // time-ordered arrival: range-partition by ts so file k holds the
    // k-th time slice, as a log shipper would deliver it
    src0.repartitionByRange(nFiles, col("ts"))
      .write.mode("overwrite").parquet(stage)
    // FileStreamSource schedules files by MODIFICATION TIME, and a
    // parallel write finishes its part files in task-completion order —
    // near-identical mtimes in effectively random range order. Out-of-ts
    // arrival makes the watermark jump to near-max early and every
    // later-arriving earlier-time file is dropped wholesale as late data
    // (measured: the state trajectory freezes at one batch's snapshot and
    // input rows stop contributing). Re-stamp mtimes in part-file NAME
    // order (= range order) so batch k really is the k-th time slice.
    locally {
      val parts = new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 2000L
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 2000L)
      }
    }

    def bench(name: String,
        mode: org.apache.spark.sql.streaming.OutputMode,
        build: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
      val q = build(src).writeStream
        .outputMode(mode)
        .format("noop")
        .option("checkpointLocation",
          graft.GraftSession.tempDir(s"ck_$name"))
        .start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val wallSec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      q.stop()
      val rows = progress.map(_.numInputRows).sum
      val nonEmpty = progress.filter(_.numInputRows > 0)
      val lat = nonEmpty.map(_.durationMs.get("triggerExecution").toLong).sorted
      val med = if (lat.nonEmpty) lat(lat.size / 2) else -1L
      val max = if (lat.nonEmpty) lat.last else -1L
      // state-store trajectory: rows held by the (first) stateful
      // operator per batch — quartile snapshots over the run make
      // "watermark keeps state bounded" a measured fact, not a scaladoc
      // claim (flat q1≈q2≈q3≈last vs monotone growth)
      val st = nonEmpty.flatMap(_.stateOperators.headOption)
        .map(so => (so.numRowsTotal, so.memoryUsedBytes))
      val stLine = if (st.isEmpty) "state_rows=none" else {
        def q(f: Double) = st(math.min(st.size - 1, (st.size * f).toInt))._1
        f"state_rows_q1=${q(0.25)} q2=${q(0.5)} q3=${q(0.75)} " +
          f"last=${st.last._1} mem_last_kb=${st.last._2 / 1024}"
      }
      println(f"STREAM $name batches=${lat.size} rows=$rows " +
        f"wall=${wallSec}%.1fs rows_per_sec=${rows / wallSec}%.0f " +
        f"median_batch_ms=$med max_batch_ms=$max $stLine")
    }

    import org.apache.spark.sql.streaming.OutputMode.{Append, Update}
    bench("tumbling_counts", Update,
      df => StreamingEvents.tumblingCounts(df))
    bench("session_window", Append, // finalized-on-watermark semantics
      df => StreamingEvents.sessionCounts(df))
    bench("stateful_sessionize", Append, // must match fn's OutputMode
      df => StreamingEvents.sessionizeStateful(df).toDF())
    bench("dedup_by_id", Update,
      df => StreamingEvents.dedupEvents(df))

    // Materialized-insights-view soak (r8 verdict #7): maintain the
    // StreamingInsights core over every micro-batch, and every
    // `checkEvery` batches prove the SERVED view equals a from-scratch
    // batch cube of exactly the rows seen so far (string-set equality —
    // the full correctness contract, not a row count). The reported
    // "state" is the core's group-row count per version: it must
    // SATURATE at the corpus' group count (flat q2≈q3≈last) because the
    // core is a Σ|groups| aggregate, never a function of row volume.
    locally {
      import graft.insights.{InsightsConfig, InsightsEngine}
      val cfg = InsightsConfig(
        groupingCols = Seq("event_type", "value"),
        buckets = Map("value" -> 100L))
      val corePath = graft.GraftSession.tempDir("graft_soak_core")
      val seenPath = graft.GraftSession.tempDir("graft_soak_seen")
      val checkEvery = math.max(nFiles / 5, 1)
      var checks = 0
      var checksOk = 0
      val coreRows = scala.collection.mutable.ArrayBuffer[Long]()
      val mergeSec = scala.collection.mutable.ArrayBuffer[Double]()
      val src = graft.Tables.normalizeTs(
        spark.readStream.schema(spark.read.parquet(stage).schema)
          .option("maxFilesPerTrigger", "1").parquet(stage))
      val t0 = System.nanoTime()
      val q = src.writeStream
        .outputMode(Append)
        .option("checkpointLocation",
          graft.GraftSession.tempDir("ck_insights_view"))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val b0 = System.nanoTime()
          batch.write.mode("overwrite").parquet(s"$seenPath/b=$id")
          StreamingInsights.maintainCore(corePath, cfg)(batch, id)
          mergeSec += (System.nanoTime() - b0) / 1e9
          coreRows += spark.read.parquet(s"$corePath/v=$id").count()
          if ((id + 1) % checkEvery == 0) {
            checks += 1
            val seen = spark.read.parquet(seenPath)
            val served = StreamingInsights.serve(spark, corePath, cfg)
              .collect().map(_.getString(0)).toSet
            val full = InsightsEngine
              .insightsCubeNative(seen, cfg, seen.count())
              .collect().map(_.getString(0)).toSet
            if (served == full && full.nonEmpty) checksOk += 1
            else println(s"STREAMINSIGHTS CHECK FAILED at batch $id: " +
              s"served=${served.size} batch_cube=${full.size}")
          }
        }
        .start()
      q.processAllAvailable()
      q.stop()
      val wallSec = (System.nanoTime() - t0) / 1e9
      def qt(xs: Seq[Long], f: Double): Long =
        if (xs.isEmpty) -1 else xs(math.min(xs.size - 1, (xs.size * f).toInt))
      val ms = mergeSec.sorted
      println(f"STREAM insights_view batches=${coreRows.size} " +
        f"wall=$wallSec%.1fs " +
        f"core_rows_q1=${qt(coreRows.toSeq, 0.25)} q2=${qt(coreRows.toSeq, 0.5)} " +
        f"q3=${qt(coreRows.toSeq, 0.75)} last=${coreRows.lastOption.getOrElse(-1L)} " +
        f"merge_sec_med=${if (ms.nonEmpty) ms(ms.size / 2) else -1.0}%.2f " +
        f"max=${if (ms.nonEmpty) ms.last else -1.0}%.2f " +
        f"equality_checks=$checks ok=$checksOk")
      require(checks == checksOk, "served view diverged from batch cube")
    }

    spark.stop()
  }
}
