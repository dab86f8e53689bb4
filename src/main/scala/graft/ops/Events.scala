package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.Tables._

/** Event-stream operators over `events` (batch forms; the Structured
  * Streaming variants with watermarks live in graft.streaming and are
  * unit-tested — DuckDB cannot oracle a stream).
  *
  * Timestamps: `ts` arrives as µs TimestampType via Tables.events; all
  * oracle-compared values are integer epoch seconds/µs so both engines do
  * identical integer math (DuckDB's ns source truncates the same way).
  *
  * Scale: tumbling windows are a single hash-aggregate keyed by
  * (bucket, type) — no skew risk. Sessionization shuffles once by
  * user_id then runs two narrow window passes within partitions; at
  * 100 TB the user_id shuffle is the cost and is unavoidable (state must
  * co-locate per key); Spark's `session_window` agg is the same shape.
  */
object Events {

  /** Tumbling 10-minute windows per event type, via Spark's `window()`
    * (TimeWindow expression) — start exposed as epoch seconds. */
  def tumblingWindows(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("value_cents"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("value_cents"))
      .orderBy(col("window_start"), col("event_type"))

  /** Hopping (sliding) 1-hour windows every 30 minutes — the overlap
    * case `window(ts, size, slide)` exists for: each event lands in
    * exactly size/slide = 2 windows, so window counts smooth across
    * boundaries instead of cliff-edging at them. Spark's TimeWindow
    * expands the assignment MAP-SIDE (a generate, not a join); rows
    * widen 2× at the executor and then one shuffle aggregates — the
    * same scale shape as tumbling, just with the ×(size/slide) fan-out
    * priced in. */
  def hoppingWindows(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("value_cents"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("value_cents"))
      .orderBy(col("window_start"), col("event_type"))

  /** Calendar gap-fill: daily per-type counts joined against a DENSE
    * (event_type × day) spine so missing days surface as explicit
    * zeros — what every downstream time-series consumer (charting,
    * anomaly detection, resampling) assumes. The spine is generated,
    * not stored: global min/max dates are one scalar aggregate
    * broadcast into a map-side `sequence()` explode per type; the
    * fill join is broadcast-able because the spine is |types|·|days|,
    * tiny regardless of event volume. */
  def eventsGapFill(s: SparkSession, dir: String): DataFrame = {
    val all = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val e = all.select(col("event_type"), col("day"))
    // the filled metric is SPARSE (high-value events) while the spine
    // spans all activity — so absent (type, day) cells really occur and
    // the fill produces explicit zeros, not a vacuous left join
    val daily = all.filter(col("value") > 190.0)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val span = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("event_type"), col("day"))
  }

  /** First-order Markov transition matrix over per-user event streams:
    * P(next event type | current) — the behavioral n-gram model behind
    * next-action prediction and funnel-drop analysis. One lag window
    * per user (single shuffle on user_id, same as sessionize), then a
    * |types|² aggregate; the probability is count/row-total as one
    * exact integer ratio per cell (share-of-total window over the
    * from_type partition, no second shuffle — from_type is a prefix of
    * the aggregate key). */
  def eventsMarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("from_type"))
    counts
      .withColumn("p",
        col("n").cast("double") / sum(col("n")).over(tot).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Session windows (30-min inactivity gap) per user: gaps-and-islands
    * with lag + running sum — exactly Spark `session_window` semantics
    * (a gap of exactly 30:00 starts a new session), expressed so DuckDB
    * agrees. The `session_window`-native form is covered in EventsSpec. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us").asc, col("event_id").asc)
    events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(byUser) >= gapUs || lag(col("us"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Peak session concurrency per UTC day — the classic sweep-line
    * (+1 at session start, −1 at session end) expressed relationally:
    * how many user sessions overlap at the busiest instant of each day.
    * This is the capacity-planning readout on top of sessionization
    * (serving fleets are sized to peak concurrency, not event volume),
    * and the interval-overlap aggregation pattern itself (concurrent
    * calls, open connections, in-flight jobs) that plain groupBy cannot
    * express because intervals, not points, carry the measure.
    *
    * Shape: sessions (the `sessionize` core) are split at UTC midnight
    * boundaries map-side (`sequence` + `explode` — a generate, not a
    * join; sessions are minutes long, so the expansion factor is ~1),
    * clipped closed intervals contribute a +1/−1 delta pair, deltas
    * collapse to one row per (day, instant) in a hash aggregate, and a
    * per-day running sum over change points yields the concurrency
    * curve. Closed-interval semantics: at instant t, sessions ending at
    * t still occupy — peak(t) = running_after(t) + ends(t), an identity
    * that avoids any intra-instant ordering (the output is provably
    * independent of tie order among simultaneous starts/ends).
    *
    * Scale: one user_id shuffle (sessionize), one (day, t) hash
    * aggregate, one day-partitioned window. Change points per day are
    * bounded by 2×(sessions that day); at 100 TB the standard coarsening
    * — bucket t to seconds/minutes in the delta aggregate
    * ([[concurrencyPeaksWidth]]) — caps the window partition width with
    * no change to the plan shape. The declared query runs exact
    * (width 1). */
  def concurrencyPeaks(s: SparkSession, dir: String): DataFrame =
    concurrencyPeaksWidth(s, dir, 1L)

  /** Sweep-line with change points bucketed to `widthUs`-µs instants —
    * the knob that bounds the per-day window partition at scale: a hot
    * day has at most 86 400 000 000/widthUs change points regardless of
    * session volume (width 1 s → ≤86 400 rows/day; the exact sweep's
    * change-point count grows with sessions). EXACT at widthUs = 1
    * (floor(t/1) = t — EventsSpec pins equality); for widthUs > 1 the
    * reported peak is a documented UPPER BOUND on the exact peak:
    * bucketing merges instants, and closed-interval semantics count any
    * two sessions sharing a bucket as concurrent, so coarsening can only
    * merge-up, never split — peak_w ≥ peak_exact for every width (w = 1
    * divides all widths, and bucket containment preserves coverage along
    * divisor chains w ∣ W; incommensurate widths are NOT comparable to
    * each other). Capacity planning wants exactly that side of the
    * bound. */
  def concurrencyPeaksWidth(s: SparkSession, dir: String, widthUs: Long): DataFrame = {
    require(widthUs >= 1L, s"bucket width must be positive, got $widthUs")
    val gapUs = 30L * 60 * 1000000
    val dayUs = 86400L * 1000000
    val byUser =
      Window.partitionBy(col("user_id")).orderBy(col("us").asc, col("event_id").asc)
    val sess = events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(byUser) >= gapUs ||
          lag(col("us"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    val parts = sess
      .withColumn("day",
        explode(sequence(expr(s"s_us div $dayUs"), expr(s"e_us div $dayUs"))))
      .select(col("day"),
        greatest(col("s_us"), col("day") * dayUs).as("cs"),
        least(col("e_us"), (col("day") + 1) * dayUs - 1).as("ce"))
    // r18 (guide §2.4): the start/end change points used to come from a
    // self-UNION of `parts` — two copies of the whole sessionize
    // subtree (window + session aggregate + day explode) in the plan,
    // re-computed per branch past the shared exchange. One explode of a
    // 2-struct array emits both rows in a single pass — identical rows,
    // half the post-exchange work.
    val deltas = parts
      .select(col("day"), explode(array(
        struct(expr(s"cs div $widthUs").as("t"),
          lit(1L).as("st"), lit(0L).as("en")),
        struct(expr(s"ce div $widthUs").as("t"),
          lit(0L).as("st"), lit(1L).as("en")))).as("d"))
      .select(col("day"), col("d.t").as("t"), col("d.st").as("st"),
        col("d.en").as("en"))
      .groupBy(col("day"), col("t"))
      .agg(sum(col("st")).as("st"), sum(col("en")).as("en"))
    val byDay = Window.partitionBy(col("day")).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("peak_t", sum(col("st") - col("en")).over(byDay) + col("en"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_change_points"),
        sum(col("st")).as("n_session_parts"),
        max(col("peak_t")).as("max_concurrent"))
      .orderBy(col("day"))
  }

  /** Funnel: users whose first signup precedes their first purchase. */
  def signupPurchaseFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val firstByType = e.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("us")).as("first_us"))
    val signup = firstByType.filter(col("event_type") === "signup")
      .select(col("user_id"), col("first_us").as("signup_us"))
    val purchase = firstByType.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("first_us").as("purchase_us"))
    signup.join(purchase, Seq("user_id"), "inner")
      .filter(col("signup_us") < col("purchase_us"))
      .select(col("user_id"), col("signup_us"), col("purchase_us"))
      .orderBy(col("user_id"))
  }

  /** Hourly event-type pivot: conditional aggregation (pivot with a fixed
    * value set so both engines produce identical columns). */
  def hourlyTypePivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hour_bucket"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"))
      .orderBy(col("hour_bucket"))

  /** Cohort retention matrix: users cohorted by first-activity day,
    * distinct active users per (cohort_day, day_offset). Two shuffles,
    * both keyed by user_id — the first-activity aggregate and the join
    * back are co-partitioned, so AQE plans the join without a second
    * exchange of the fact side; the final (cohort, offset) aggregate is
    * small. The canonical product-analytics operator. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** 7-day ROLLING MEDIAN of the per-type daily revenue — the robust
    * rolling statistic a monitoring pipeline plots instead of the
    * spike-prone rolling mean (the windowed sibling of the global MAD
    * outlier gate). The holistic `percentile` aggregate runs as a
    * WINDOW function over a value-bounded RANGE frame (day − 6 .. day)
    * above the per-(type, day) aggregate — RANGE, not ROWS, so the
    * window is CALENDAR-true: a gap day shrinks the frame instead of
    * silently stretching it across older history (days with zero events
    * still contribute no row — compose with `events_gap_fill` upstream
    * when absent-day zeros should pull the median down). The window
    * input is the daily series, never raw events, and it is partitioned
    * by type (no global sort). Exactness: daily sums are exact Long
    * cents; the interpolated median over ≤ 7 Longs is the bit-exact
    * `agg_stats_orders` precedent. */
  def eventsRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(cents(col("value"))).as("vc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily.withColumn("med7", expr("percentile(vc, 0.5D)").over(w))
      .orderBy(col("event_type"), col("day"))
  }

  /** Cohort lifetime value: cumulative per-user revenue by cohort age —
    * the money companion of [[cohortRetention]] (same first-activity
    * cohorts, same day arithmetic). One user_id shuffle builds cohorts,
    * one (cohort, age) aggregate, then a cohort-partitioned cumulative
    * window over the AGGREGATED series (≤ |days|² rows total) and one
    * IEEE division per row for the per-user LTV readout. */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      cents(col("value")).as("vc"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohorts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_users"))
    val byAge = e.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(sum(col("vc")).as("rev_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Long.MinValue, 0)
    byAge
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("rev_cents"),
        col("cum_rev_cents"), col("cohort_users"),
        (col("cum_rev_cents").cast("double") /
          col("cohort_users").cast("double")).as("ltv_cents"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Top user journeys: the first three event types per user in time
    * order, counted by path. Order inside collect_list is made
    * deterministic by sorting (ts, event_id, type) structs AFTER
    * collection — collect_list itself has no ordering guarantee across
    * shuffled partitions. One user_id shuffle; path strings stay tiny. */
  def topEventPaths(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id"),
        struct(expr("unix_micros(ts)").as("us"), col("event_id"),
          col("event_type")).as("ev"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .select(concat_ws(">",
        transform(slice(col("evs"), 1, 3), e => e.getField("event_type")))
        .as("path3"))
      .groupBy(col("path3"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("path3"))

  /** A/B experiment readout: users deterministically assigned to
    * variants by an LCG coin on user_id (reproducible in any engine —
    * the same property the sampling operators use), conversion = user
    * has ≥1 purchase event, and the two-proportion z-statistic computed
    * from the exact counts in one deterministic double expression
    * (rounded to 6 dp). Two shuffles: per-user conversion, then the
    * two-row variant aggregate collapsed to one readout row. */
  def abTestReadout(s: SparkSession, dir: String): DataFrame = {
    // scale-invariant conversion: the user's purchase SHARE exceeds the
    // uniform expectation (5 types → 20%) — exact integer comparison,
    // and roughly half the users convert at any scale factor (a fixed
    // absolute count would saturate as events-per-user grows with sf)
    val perUser = events(s, dir)
      .groupBy(col("user_id"))
      .agg(when(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) * 5 >
          count(lit(1)), 1L).otherwise(0L).as("converted"))
      .withColumn("variant",
        when(pmod((col("user_id") * 1103515245L + 12345L) % 2147483647L,
          lit(2L)) === 0, "A").otherwise("B"))
    perUser
      .groupBy()
      .agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("converted")).otherwise(0L))
          .as("conv_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("converted")).otherwise(0L))
          .as("conv_b"))
      .withColumn("z_q", round(
        (col("conv_a").cast("double") / col("n_a") -
          col("conv_b").cast("double") / col("n_b")) /
          sqrt(((col("conv_a") + col("conv_b")).cast("double") /
            (col("n_a") + col("n_b"))) *
            (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
              (col("n_a") + col("n_b"))) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
  }

  /** Interval-based RANGE window frame: per user, the rolling 1-hour
    * event count and value sum. RANGE over an actual time interval (not
    * a numeric proxy) through the SQL frontend — the DataFrame API's
    * rangeBetween only takes numeric offsets. Tie-safe: RANGE frames
    * include ALL ts-peers regardless of physical order, and exact
    * integer cents make the sums engine-identical. One user_id shuffle
    * serves the frame. */
  def intervalFrame(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).createOrReplaceTempView("graft_events_iv")
    s.sql(
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
        |FROM graft_events_iv
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)
  }

  /** OHLC bar downsampling — the financial/telemetry time-series
    * compaction: per (hour, event_type), the first (open) and last
    * (close) value in event-time order plus low/high/volume. The whole
    * bar is ONE hash aggregate: open/close are min/max over
    * (ts, event_id, cents) structs — lexicographic struct ordering with
    * the unique event_id as tie-break makes "first" total-ordered and
    * deterministic (the oracle spells the same pick as two ranked
    * windows; the engine never needs one). Values in integer cents.
    *
    * Scale: identical shape to `tumblingWindows` — partial-agg-friendly,
    * keyed by (bucket, type), no windows, no joins; this is why bar
    * compaction is the standard first reduction on tick-scale data
    * (reduce volume by the bar width's average occupancy BEFORE any
    * windowed analytics run). */
  def ohlcBars(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("hour_bucket"),
        col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), cents(col("value")).as("cents"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(
        min(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("close_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("hour_bucket"), col("event_type"))

  /** DAU / trailing-7-day WAU / stickiness per day — the product-metric
    * staple. The trailing-distinct count is NOT a window aggregate
    * (count distinct over a sliding frame doesn't exist); the scalable
    * formulation used here is WINDOW EXPANSION: each distinct
    * (day, user) row contributes to the 7 window-end days it is active
    * for, so one explode + DISTINCT + equi-keyed count replaces the
    * day×activity range join. Cost is 7× the distinct-activity relation
    * (tiny next to raw events), all equi-shuffles, no range join, no
    * per-day re-scan. At 100 TB the same motion runs on mergeable
    * per-day HLL partials when a ±5 % WAU is acceptable —
    * [[dauWauHll]], declared beside this one, is exactly that query;
    * this one pins the exact semantics. Window ends with no activity
    * day are dropped via the semi join to observed days (same contract
    * as the oracle). */
  def dauWauStickiness(s: SparkSession, dir: String): DataFrame = {
    val du = events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val days = du.select(col("day")).distinct()
    val wau = du
      .select(explode(expr("sequence(0, 6)")).as("i"), col("day"), col("user_id"))
      .select(expr("date_add(day, i)").as("day"), col("user_id"))
      .distinct()
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau7"),
        (col("dau").cast("double") / col("wau7").cast("double")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Trailing-7-day WAU from MERGEABLE per-day HLL partials — the 100 TB
    * path [[dauWauStickiness]]'s scaladoc names, declared beside the
    * exact window expansion (the `agg_hll_rollup` discipline applied to
    * the product metric). One per-day `hll_sketch_agg` over the distinct
    * (day, user) activity builds the fixed-size partial a production
    * pipeline stores per ingest day; the SAME window expansion then
    * routes each day's sketch to its 7 window-end days and
    * `hll_union_agg` merges 7 sketches per day. The raw activity
    * relation is scanned ONCE regardless of window width — the exact
    * expansion instead shuffles 7× the distinct-activity rows, which is
    * the trade that flips at scale (7 × 4 KB sketches vs 7 × the day's
    * user set). Sketch estimates are engine-specific, so the declared
    * output carries exact DAU and exact WAU plus a tolerance VERDICT
    * (±5% ≈ 3σ at default lgConfigK=12); the oracle recomputes the
    * exacts and asserts every verdict — the exact columns are the
    * embedded oracle, the sketch path is the production payload. */
  def dauWauHll(s: SparkSession, dir: String): DataFrame = {
    val du = events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one row per day: the stored partial (sketch + exact dau verdict
    // companion); tiny and referenced twice, so persist the relation,
    // not the aggregate subtree
    val daily = du.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("dau"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val days = du.select(col("day")).distinct()
    val wauSketch = daily
      .select(explode(expr("sequence(0, 6)")).as("i"), col("day"), col("sk"))
      .select(expr("date_add(day, i)").as("day"), col("sk"))
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_est"))
    val wauExact = du
      .select(explode(expr("sequence(0, 6)")).as("i"), col("day"), col("user_id"))
      .select(expr("date_add(day, i)").as("day"), col("user_id"))
      .distinct()
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    daily.select(col("day"), col("dau"))
      .join(wauSketch, Seq("day"))
      .join(wauExact, Seq("day"))
      .select(col("day"), col("dau"), col("wau7"),
        (abs(col("wau_est").cast("double") / col("wau7").cast("double") - 1.0)
          <= 0.05).as("wau_ok"))
      .orderBy(col("day"))
  }

  /** GUARD-ROUTED events self-join (r14 verdict #7 — the join-volume
    * pre-flight consumed IN-PLAN, not just reported): which event types
    * co-occur within 5 minutes for the same user — the behavioral
    * correlation matrix behind "users who do X also do Y", and the
    * canonical pair-blowup shape `RelationalExt.joinVolumeGuard` audits
    * (`events_self_userid`): a user with n events contributes n² join
    * rows, so output volume is Σn² — quadratic in the per-user fan-out,
    * not the event count.
    *
    * The routing consumes the guard's own rule: the per-user count
    * aggregate (map-side combinable, |users| rows — orders cheaper than
    * the join it de-risks) computes Σn² and the guard bound
    * (out ≤ 16 × rows, `joinVolumeGuard`'s amplification test) as ONE
    * 1-row fetch; within the bound the plain user_id equi-join runs —
    * over it the TIME-BANDED join ([[cooccurrenceBandedFrom]]) replaces
    * it. The banded join is this family's VOLUME fix, the r14 Jaccard
    * lesson (BASELINE r14: plain AND salted DNF where prefix filtering
    * finishes — a skew fix spreads C(n,2) rows without shrinking them)
    * applied to temporal self-joins: since only pairs within Δ = 5 min
    * count, joining on (user_id, Δ-wide time bucket) with the probe
    * side replicated to its 3 adjacent buckets bounds candidates by
    * per-bucket DENSITY — a user's history growing over time adds
    * buckets, not per-bucket rows, so candidate volume grows linearly
    * where the plain join's n² grows quadratically. `Skew.saltedJoin`
    * remains the sibling for when no such predicate exists (pure skew).
    * Banding is lossless (Δt ≤ Δ ⟹ bucket distance ≤ 1, and each pair
    * matches exactly one of the 3 probe keys), so ONE relational oracle
    * covers both legs — and the chosen route is pinned into the output
    * (`route`), with the oracle replaying the guard rule in SQL, so the
    * driver hash covers the decision (the `dedup_simhash_routed`
    * discipline). The fixture exceeds the bound at both verify scales
    * (Σn² = 677 248 > 160 000 at sf0.01; 6.77 M > 1.6 M at sf0.1), so
    * the declared query serves the banded route; EventsSpec proves the
    * plain route selectable and the two routes equal. */
  def eventsCooccurrenceRouted(s: SparkSession, dir: String): DataFrame =
    cooccurrenceRoutedFrom(events(s, dir).select(col("user_id"),
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("us")))

  /** The routed body over a (user_id, event_id, event_type, us)
    * relation — the seam EventsSpec uses to prove the plain route
    * selectable on a bounded-fan-out corpus. */
  private[graft] def cooccurrenceRoutedFrom(e: DataFrame): DataFrame = {
    // the guard aggregate: one sanctioned 1-row fetch (the storedParams
    // / insights-stats motion), NOT a per-row collect
    val g = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("rows"),
        coalesce(sum(col("n") * col("n")), lit(0L)).as("out_rows"))
      .head()
    // the SAME bound joinVolumeGuard reports (r15 advice: one shared
    // constant, consumed by guard, route, and both oracles)
    val plainOk = g.getLong(1) <= RelationalExt.JoinAmplificationBound * g.getLong(0)
    if (plainOk) cooccurrencePairAgg(cooccurrencePlainJoin(e), "plain")
    else cooccurrencePairAgg(cooccurrenceBandedJoin(e), "banded")
  }

  /** 5 minutes in µs — the co-occurrence window AND the band width (the
    * losslessness argument needs width ≥ window; equal is tightest). */
  private val CoocWindowUs = 300000000L

  private def cooccurrenceBSide(e: DataFrame): DataFrame =
    e.select(col("user_id"), col("event_id").as("b_event_id"),
      col("event_type").as("b_event_type"), col("us").as("b_us"))

  private[graft] def cooccurrencePlainJoin(e: DataFrame): DataFrame =
    e.join(cooccurrenceBSide(e), Seq("user_id"))

  /** The banded candidate join: each probe row replicated to its 3
    * adjacent Δ-wide buckets (map-side generate, 3× one side — vs the
    * salted join's 16× replication that leaves volume quadratic), build
    * side keyed by its own bucket. Any pair with |Δt| ≤ Δ has bucket
    * distance ≤ 1 and matches EXACTLY one probe key (the 3 keys are
    * distinct), so the join is lossless and duplicate-free before the
    * exact |Δt| filter. */
  private[graft] def cooccurrenceBandedJoin(e: DataFrame): DataFrame = {
    val bucket = expr(s"us div $CoocWindowUs")
    val probe = e
      .withColumn("b_bucket",
        explode(array(bucket - 1, bucket, bucket + 1)))
    val build = cooccurrenceBSide(e)
      .withColumn("b_bucket", expr(s"b_us div $CoocWindowUs"))
    probe.join(build, Seq("user_id", "b_bucket")).drop("b_bucket")
  }

  private def cooccurrencePairAgg(joined: DataFrame, route: String): DataFrame =
    joined
      .filter(col("event_id") < col("b_event_id") &&
        abs(col("us") - col("b_us")) <= CoocWindowUs)
      .groupBy(
        least(col("event_type"), col("b_event_type")).as("type_1"),
        greatest(col("event_type"), col("b_event_type")).as("type_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("route", lit(route))
      .orderBy(col("type_1"), col("type_2"))

  val declared: Seq[Declared] = Seq(
    // one relational body covers both routes (the banded join is
    // result-identical — EventsSpec pins row-level equality); the guard
    // rule replays in SQL so the hash pins the routing decision itself
    Declared("events_cooccurrence_routed", eventsCooccurrenceRouted _,
      s"""WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |guard AS (
        |  SELECT coalesce(sum(n * n), 0) <=
        |    ${RelationalExt.JoinAmplificationBound} * coalesce(sum(n), 0) AS plain
        |  FROM c)
        |SELECT least(a.event_type, b.event_type) AS type_1,
        |  greatest(a.event_type, b.event_type) AS type_2,
        |  count(*) AS n_pairs,
        |  CASE WHEN (SELECT plain FROM guard)
        |       THEN 'plain' ELSE 'banded' END AS route
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
        |GROUP BY 1, 2 ORDER BY type_1, type_2""".stripMargin),
    // DAU/WAU via the same window-expansion: each (day,user) activity
    // contributes to 7 window-end days; semi join keeps observed days
    Declared("events_dau_wau", dauWauStickiness _,
      """WITH du AS MATERIALIZED (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT du.day + CAST(t.i AS INTEGER) AS day, du.user_id
        |  FROM du, range(0, 7) t(i)),
        |wau AS (
        |  SELECT c.day, count(*) AS wau7 FROM contrib c
        |  WHERE c.day IN (SELECT day FROM days) GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau7,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau7 AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY dau.day""".stripMargin),
    // HLL sibling: the oracle recomputes the exact DAU/WAU and asserts
    // the sketch-path verdicts (the agg_hll_orders discipline — sketch
    // internals are engine-specific, the ±5% verdict is the contract)
    Declared("events_dau_wau_hll", dauWauHll _,
      """WITH du AS MATERIALIZED (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT du.day + CAST(t.i AS INTEGER) AS day, du.user_id
        |  FROM du, range(0, 7) t(i)),
        |wau AS (
        |  SELECT c.day, count(*) AS wau7 FROM contrib c
        |  WHERE c.day IN (SELECT day FROM days) GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau7, true AS wau_ok
        |FROM dau JOIN wau USING (day) ORDER BY dau.day""".stripMargin),
    // open/close: the engine's min/max over (us, event_id, cents)
    // structs == rank-1 rows of the (ts, event_id) total order
    Declared("events_ohlc_bars", ohlcBars _,
      """WITH e AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |    epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |agg AS (
        |  SELECT hour_bucket, event_type,
        |    CAST(max(cents) AS BIGINT) AS high_cents,
        |    CAST(min(cents) AS BIGINT) AS low_cents,
        |    count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY 1, 2),
        |o AS (
        |  SELECT hour_bucket, event_type, cents AS open_cents FROM e
        |  QUALIFY row_number() OVER (PARTITION BY hour_bucket, event_type
        |    ORDER BY us ASC, event_id ASC) = 1),
        |c AS (
        |  SELECT hour_bucket, event_type, cents AS close_cents FROM e
        |  QUALIFY row_number() OVER (PARTITION BY hour_bucket, event_type
        |    ORDER BY us DESC, event_id DESC) = 1)
        |SELECT a.hour_bucket, a.event_type, o.open_cents, a.high_cents,
        |  a.low_cents, c.close_cents, a.n_events, a.sum_cents
        |FROM agg a
        |JOIN o USING (hour_bucket, event_type)
        |JOIN c USING (hour_bucket, event_type)
        |ORDER BY hour_bucket, event_type""".stripMargin),
    // peak(t) = running_after(t) + ends(t): closed-interval identity,
    // independent of tie order among simultaneous starts/ends
    Declared("events_concurrency", concurrencyPeaks _,
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |              OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |numbered AS (
        |  SELECT user_id, us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, session_no, min(us) AS s_us, max(us) AS e_us
        |  FROM numbered GROUP BY user_id, session_no),
        |parts0 AS (
        |  SELECT s_us, e_us,
        |    unnest(generate_series(s_us // 86400000000, e_us // 86400000000)) AS day
        |  FROM sess),
        |parts AS (
        |  SELECT day,
        |    greatest(s_us, day * 86400000000) AS cs,
        |    least(e_us, (day + 1) * 86400000000 - 1) AS ce
        |  FROM parts0),
        |deltas AS (
        |  SELECT day, t, CAST(sum(st) AS BIGINT) AS st, CAST(sum(en) AS BIGINT) AS en
        |  FROM (
        |    SELECT day, cs AS t, 1 AS st, 0 AS en FROM parts
        |    UNION ALL SELECT day, ce, 0, 1 FROM parts)
        |  GROUP BY day, t),
        |swept AS (
        |  SELECT day, st, en,
        |    sum(st - en) OVER (PARTITION BY day ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + en AS peak_t
        |  FROM deltas)
        |SELECT day, count(*) AS n_change_points,
        |  CAST(sum(st) AS BIGINT) AS n_session_parts,
        |  CAST(max(peak_t) AS BIGINT) AS max_concurrent
        |FROM swept GROUP BY day ORDER BY day""".stripMargin),
    Declared("events_interval_frame", intervalFrame _,
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    Declared("events_ab_test", abTestReadout _,
      """WITH pu AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              * 5 > count(*) THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY user_id),
        |v AS (
        |  SELECT CASE WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 2 = 0
        |              THEN 'A' ELSE 'B' END AS variant, converted
        |  FROM pu),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_b
        |  FROM v)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
        |    sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |         (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |         (1.0 / n_a + 1.0 / n_b)), 6) AS z_q
        |FROM agg""".stripMargin),
    Declared("events_tumbling_windows", tumblingWindows _,
      """SELECT (epoch_us(ts) // 600000000) * 600 AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    Declared("events_hopping_windows", hoppingWindows _,
      """WITH hops AS (SELECT unnest(range(0, 2)) AS h),
        |assigned AS (
        |  SELECT (epoch_us(ts) // 1800000000) * 1800 - h.h * 1800
        |      AS window_start,
        |    event_type, value
        |  FROM events CROSS JOIN hops h)
        |SELECT window_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM assigned GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin),
    Declared("events_gap_fill", eventsGapFill _,
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events WHERE value > 190
        |  GROUP BY event_type, CAST(ts AS DATE)),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |spine AS (
        |  SELECT t.event_type, CAST(g.day AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM e) t
        |  CROSS JOIN span
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(span.d0, span.d1,
        |    INTERVAL 1 DAY)) AS day) g)
        |SELECT s.event_type, s.day,
        |  CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events
        |FROM spine s LEFT JOIN daily d
        |  ON s.event_type = d.event_type AND s.day = d.day
        |ORDER BY s.event_type, s.day""".stripMargin),
    Declared("events_markov_transitions", eventsMarkovTransitions _,
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin),
    Declared("events_sessionize", sessionize _,
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |              OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |numbered AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(us) AS session_start_us, max(us) AS session_end_us
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin),
    Declared("events_funnel", signupPurchaseFunnel _,
      """WITH f AS (
        |  SELECT user_id, event_type, min(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY 1, 2)
        |SELECT s.user_id, s.first_us AS signup_us, p.first_us AS purchase_us
        |FROM f s JOIN f p ON s.user_id = p.user_id
        |WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
        |  AND s.first_us < p.first_us
        |ORDER BY s.user_id""".stripMargin),
    Declared("events_hourly_pivot", hourlyTypePivot _,
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY 1 ORDER BY hour_bucket""".stripMargin),
    Declared("events_retention", cohortRetention _,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),
    Declared("events_rolling_median", eventsRollingMedian _,
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS vc
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, vc,
        |  quantile_cont(vc, 0.5) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
        |FROM daily ORDER BY event_type, day""".stripMargin),
    Declared("events_cohort_ltv", cohortLtv _,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM c GROUP BY cohort_day),
        |byage AS (
        |  SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |    CAST(sum(e.vc) AS BIGINT) AS rev_cents
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_day, day_offset, rev_cents,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
        |      ORDER BY day_offset ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum_rev_cents
        |  FROM byage)
        |SELECT cum.cohort_day, day_offset, rev_cents, cum_rev_cents,
        |  sz.cohort_users,
        |  CAST(cum_rev_cents AS DOUBLE) / CAST(sz.cohort_users AS DOUBLE)
        |    AS ltv_cents
        |FROM cum JOIN sz ON sz.cohort_day = cum.cohort_day
        |ORDER BY cum.cohort_day, day_offset""".stripMargin),
    Declared("events_top_paths", topEventPaths _,
      """WITH p AS (
        |  SELECT user_id,
        |    array_to_string(
        |      list(event_type ORDER BY epoch_us(ts), event_id)[1:3], '>') AS path3
        |  FROM events GROUP BY user_id)
        |SELECT path3, count(*) AS n_users
        |FROM p GROUP BY path3 ORDER BY path3""".stripMargin),
  )
}
