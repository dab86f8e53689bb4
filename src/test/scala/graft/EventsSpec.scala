package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Events

class EventsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("DAU/WAU window-expansion equals a per-day trailing-set recomputation") {
    val got = Events.dauWauStickiness(spark, dir).collect()
      .map(r => r.getDate(0).toLocalDate -> (r.getLong(1), r.getLong(2))).toMap
    val acts = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1))
    val byDay = acts.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet === byDay.keySet)
    byDay.foreach { case (d, users) =>
      // the naive formulation: union the 7 trailing daily sets
      val trailing = (0 to 6).flatMap(i => byDay.getOrElse(d.minusDays(i), Set.empty))
        .toSet
      assert(got(d) === ((users.size.toLong, trailing.size.toLong)), s"day $d")
      assert(users.size <= trailing.size)
    }
  }

  test("batch gaps-and-islands sessionize == Spark's native session_window") {
    val custom = Events.sessionize(spark, dir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val native = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(custom === native)
  }

  test("cooccurrence routing: fixture serves banded == plain recompute; bounded fan-out selects plain") {
    import spark.implicits._
    // fixture: per-user fan-out blows the 16x guard -> banded route
    val routedDf = Events.eventsCooccurrenceRouted(spark, dir)
    val routedRows = routedDf.collect()
    assert(routedRows.nonEmpty)
    assert(routedRows.forall(_.getString(3) === "banded"),
      "the fixture's events self-join must exceed the guard bound")
    // the banded route is result-identical to a direct plain-join
    // recomputation of the same contract
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val b = e.select(col("user_id"), col("event_id").as("b_event_id"),
      col("event_type").as("b_event_type"), col("us").as("b_us"))
    val plain = e.join(b, Seq("user_id"))
      .filter(col("event_id") < col("b_event_id") &&
        abs(col("us") - col("b_us")) <= 300000000L)
      .groupBy(least(col("event_type"), col("b_event_type")).as("type_1"),
        greatest(col("event_type"), col("b_event_type")).as("type_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("type_1"), col("type_2"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(routedRows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq === plain)
    // losslessness at the ROW level, not just post-aggregate: the banded
    // candidate join and the plain join admit the identical within-window
    // pair set (each pair via exactly one of the 3 probe keys)
    def pairs(j: org.apache.spark.sql.DataFrame) = j
      .filter(col("event_id") < col("b_event_id") &&
        abs(col("us") - col("b_us")) <= 300000000L)
      .select(col("event_id"), col("b_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bandedPairs = pairs(Events.cooccurrenceBandedJoin(e))
    assert(bandedPairs.toSet === pairs(Events.cooccurrencePlainJoin(e)).toSet)
    assert(bandedPairs.length === bandedPairs.toSet.size, "no duplicate pairs")
    // and exact-boundary pairs (delta == window) survive banding: two
    // events exactly 300s apart land in adjacent buckets
    val edge = Seq((1L, 1L, "a", 0L), (1L, 2L, "b", 300000000L))
      .toDF("user_id", "event_id", "event_type", "us")
    assert(pairs(Events.cooccurrenceBandedJoin(edge)).toSeq === Seq((1L, 2L)))
    // bounded fan-out (10 users x 4 events: sum n^2 = 160 <= 16*40):
    // the guard admits the plain route, same contract
    val tiny = (for (u <- 1L to 10L; i <- 0L to 3L)
      yield (u, u * 10 + i, s"t${i % 2}", i * 1000000L))
      .toDF("user_id", "event_id", "event_type", "us")
    val tinyRouted = Events.cooccurrenceRoutedFrom(tiny).collect()
    assert(tinyRouted.nonEmpty)
    assert(tinyRouted.forall(_.getString(3) === "plain"))
  }

  test("tumbling windows partition all events exactly once") {
    val total = Events.tumblingWindows(spark, dir)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(total === Tables.events(spark, dir).count())
  }

  test("OHLC bars: low<=open/close<=high, volumes partition the table, open matches a direct first-event scan") {
    import org.apache.spark.sql.functions._
    val bars = Events.ohlcBars(spark, dir).collect()
    assert(bars.nonEmpty)
    bars.foreach { r =>
      val (open, high, low, close) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(low <= open && open <= high, s"open outside [low,high]: $r")
      assert(low <= close && close <= high, s"close outside [low,high]: $r")
      assert(low <= high && r.getLong(6) >= 1)
    }
    assert(bars.map(_.getLong(6)).sum === Tables.events(spark, dir).count())
    // direct recompute of one bar's open: earliest (ts, event_id) row
    val r0 = bars.head
    val direct = Tables.events(spark, dir)
      .filter(expr("unix_micros(ts) div 3600000000") === r0.getLong(0) &&
        col("event_type") === r0.getString(1))
      .orderBy(col("ts").asc, col("event_id").asc)
      .select(Tables.cents(col("value"))).head().getLong(0)
    assert(direct === r0.getLong(2))
  }

  test("concurrency peaks == brute-force sweep over collected sessions") {
    val got = Events.concurrencyPeaks(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    val dayUs = 86400L * 1000000
    val sess = Events.sessionize(spark, dir)
      .select("session_start_us", "session_end_us").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parts = sess.flatMap { case (s0, e0) =>
      (s0 / dayUs to e0 / dayUs).map { d =>
        (d, math.max(s0, d * dayUs), math.min(e0, (d + 1) * dayUs - 1))
      }
    }
    val byDay = parts.groupBy(_._1)
    assert(got.keySet === byDay.keySet)
    byDay.foreach { case (day, ps) =>
      // max over continuous time of closed-interval coverage is attained
      // at an interval endpoint, so probing all endpoints is exhaustive
      val times = ps.flatMap(p => Seq(p._2, p._3)).distinct
      val brute = times.map(t => ps.count(p => p._2 <= t && t <= p._3)).max
      val (nChange, nParts, maxCon) = got(day)
      assert(nParts === ps.size.toLong, s"day $day session parts")
      assert(nChange === times.size.toLong, s"day $day change points")
      assert(maxCon === brute.toLong, s"day $day peak concurrency")
      assert(maxCon >= 1L && maxCon <= nParts)
    }
  }

  test("coarsened concurrency sweep: width 1 is exact, wider buckets upper-bound the peak") {
    val exact = Events.concurrencyPeaks(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // widthUs = 1 must be row-identical to the declared exact query
    val w1 = Events.concurrencyPeaksWidth(spark, dir, 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(w1 === exact)
    // coarser widths (1 divides all): per day, same parts, no more change
    // points than the bound and than exact, and peak_w >= peak_exact
    Seq(1000000L /* 1 s */, 60000000L /* 1 min */).foreach { w =>
      val coarse = Events.concurrencyPeaksWidth(spark, dir, w).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(coarse.keySet === exact.keySet)
      coarse.foreach { case (day, (nChange, nParts, peak)) =>
        val (exChange, exParts, exPeak) = exact(day)
        assert(nParts === exParts, s"day $day parts at width $w")
        assert(nChange <= exChange, s"day $day change points grew at width $w")
        assert(nChange <= 86400L * 1000000 / w + 1, s"day $day bound at width $w")
        assert(peak >= exPeak, s"day $day coarse peak below exact at width $w")
      }
    }
  }

  test("rolling median: frame replay; cohort LTV: cumulative closes over ages") {
    // rolling median: driver replay of the CALENDAR (RANGE day-6..day)
    // frame on every series — a gap day must shrink the frame, never
    // stretch it across older history
    val rm = ops.Events.eventsRollingMedian(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rm.nonEmpty)
    rm.groupBy(_._1).foreach { case (_, series) =>
      val s = series.sortBy(_._2)
      s.foreach { case (t, day, _, got) =>
        val frame = s.filter(p => p._2 >= day - 6 && p._2 <= day)
          .map(_._3.toDouble).sorted
        val n = frame.length
        val med = // interpolated median, the percentile(0.5) definition
          if (n % 2 == 1) frame(n / 2)
          else (frame(n / 2 - 1) + frame(n / 2)) / 2.0
        assert(got === med, s"frame median at $t/$day")
      }
    }
    // cohort LTV: per-cohort cumulative revenue closes over the ages and
    // the final cumulative equals the cohort's total revenue
    val ltv = ops.Events.cohortLtv(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    ltv.groupBy(_._1).foreach { case (_, ages) =>
      val s = ages.sortBy(_._2)
      var cum = 0L
      s.foreach { case (_, _, rev, cumRev, users, l) =>
        cum += rev
        assert(cumRev === cum, "cumulative mismatch")
        assert(l === cumRev.toDouble / users.toDouble)
      }
    }
  }

  test("funnel users have both event types in order") {
    val rows = Events.signupPurchaseFunnel(spark, dir).collect()
    assert(rows.forall(r => r.getLong(1) < r.getLong(2)))
  }

  test("normalizeTs handles both known ts encodings and fails LOUDLY on a third") {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
    import spark.implicits._
    // encoding 1: TIMESTAMP(NANOS) loaded as long nanos under nanosAsLong
    val asNanos = Seq(1700000000123456789L).toDF("ts")
    assert(Tables.normalizeTs(asNanos).schema("ts").dataType === TimestampType)
    val micros = Tables.normalizeTs(asNanos)
      .select(unix_micros(col("ts"))).collect()(0).getLong(0)
    assert(micros === 1700000000123456L) // integer div, no double rounding
    // encoding 2: timestamp[us] no-TZ → TimestampNTZ → cast (UTC session)
    val asNtz = Seq(1700000000123456L).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(asNtz.schema("ts").dataType === TimestampNTZType)
    assert(Tables.normalizeTs(asNtz).schema("ts").dataType === TimestampType)
    assert(Tables.normalizeTs(asNtz).select(unix_micros(col("ts")))
      .collect()(0).getLong(0) === 1700000000123456L)
    // a THIRD encoding drift (here: double seconds, round-tripped through
    // parquet like a real testdata regeneration would) must fail at the
    // loader with the observed type — not flow downstream un-normalized
    // into window/watermark arithmetic
    val tornDir = GraftSession.tempDir("graft_ts3")
    Seq(1.7e9).toDF("ts").write.mode("overwrite").parquet(tornDir)
    val third = spark.read.parquet(tornDir)
    val ex = intercept[IllegalStateException] { Tables.normalizeTs(third) }
    assert(ex.getMessage.contains("DoubleType"))
  }
}
