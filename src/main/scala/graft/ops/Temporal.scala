package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.Tables._

/** Temporal join operators — as-of join and range join, the canonical
  * "operators Spark lacks" (builder guide §custom-operator). Neither
  * needs a custom SparkStrategy: both compose into shuffle-friendly
  * built-ins.
  *
  *  - As-of: union both sides tagged, ONE window pass per key ordered by
  *    (time, tag, tiebreak) carrying last_value(ignoreNulls) — O(n log n)
  *    within each key partition, one shuffle total. A custom
  *    sort-merge-based AsOfJoinExec would save the union overhead but
  *    not the shuffle — not worth a strategy (SURVEY §4.3).
  *  - Range: equi-join on the key with the range predicate inside the
  *    join condition — Catalyst plans a hash join keyed on the equi part
  *    and post-filters the range, which is the scalable shape whenever
  *    an equi key exists (a pure-range pair join would need
  *    time-bucketing to avoid a nested loop).
  */
object Temporal {

  /** Generic as-of join: for each left row, the latest right row with
    * the same key and rightTime <= leftTime; ties on time broken by max
    * tiebreak. Returns the left frame + `asof_<valueCol>`. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, valueCol: String): DataFrame = {
    val l = left.withColumn("__tag", lit(1))
      .withColumn("__time", col(leftTime))
      .withColumn("__v", lit(null).cast(right.schema(valueCol).dataType))
    val r = right.select(col(key), col(rightTime).as("__time"),
      col(valueCol).as("__v")).withColumn("__tag", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before left rows at equal time (tag 0 < 1) so an
    // exactly-simultaneous right row IS visible to the left row
    val w = Window.partitionBy(col(key))
      .orderBy(col("__time").asc, col("__tag").asc, col("__v").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(s"asof_$valueCol", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__tag", "__time", "__v")
  }

  /** Attribution: for each purchase event, the most recent prior (or
    * simultaneous) view event of the same user. */
  def eventsAsofAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      col("event_id"), unix_micros(col("ts")).as("us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("us").as("view_us"))
    asofJoin(purchases, views, "user_id", "us", "view_us", "view_id")
      .select(col("event_id"), col("user_id"), col("us"), col("asof_view_id"))
      .orderBy(col("event_id"))
  }

  /** Range self-join: pairs of events by the same user within 5 minutes
    * (equi on user, range on time), counted per user. */
  def eventsRangePairs(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      col("event_id"), unix_micros(col("ts")).as("us"))
    val a = e.select(col("user_id"), col("event_id").as("a_id"), col("us").as("a_us"))
    val b = e.select(col("user_id"), col("event_id").as("b_id"), col("us").as("b_us"))
    a.join(b, Seq("user_id"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("b_us") - col("a_us")) <= lit(300000000L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_close_pairs"),
        min(abs(col("b_us") - col("a_us"))).as("min_gap_us"))
      .orderBy(col("user_id"))
  }

  /** Time-series resample + gap fill: hourly series per event type over
    * a dense grid spanning the observed range, empty slots filled with
    * n=0 and last-observation-carried-forward for the value (NULL until
    * a series' first observation — both engines agree).
    *
    * Scale: the grid is |series| × hours (tiny next to the events); the
    * LOCF window partitions by series key, so filling parallelizes
    * across series and never needs a global sort. A per-user resample is
    * the same plan with user_id as the series key. */
  /** Dense hourly grid per event type, left-joined to the observed
    * hourly aggregates — the shared resample frame behind LOCF and
    * linear interpolation. Columns: event_type, hour, sum_vc (null on
    * gap hours), n (null on gap hours). */
  private def hourlyGrid(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("hour"),
      cents(col("value")).as("vc"))
    val hourly = e.groupBy(col("event_type"), col("hour"))
      .agg(sum(col("vc")).as("sum_vc"), count(lit(1)).as("n"))
    val bounds = e.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
  }

  def eventsResampleLocf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyGrid(s, dir)
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("sum_vc"), ignoreNulls = true).over(w).as("locf_sum_vc"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Time-series gap fill by LINEAR INTERPOLATION — the numeric sibling
    * of LOCF: interior gap hours get the line between the previous and
    * next observed hour; hours outside the series' observed span stay
    * NULL (nothing to interpolate toward). The bracketing observation on
    * each side comes from one backward and one forward IGNORE-NULLS
    * window over the same per-series ordering, so both window passes
    * share the single series-key shuffle + sort (no second Exchange).
    * All inputs to the interpolation are exact longs; the interpolated
    * value is ONE deterministic double expression per row, bit-identical
    * across engines (Tables scaladoc).
    *
    * Scale: identical to LOCF — the grid is |series| × hours, windows
    * partition by series key, parallel across series. */
  def eventsResampleInterp(s: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsHour = when(col("sum_vc").isNotNull, col("hour"))
    hourlyGrid(s, dir)
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"), col("sum_vc"),
        last(col("sum_vc"), ignoreNulls = true).over(wPrev).as("pv"),
        last(obsHour, ignoreNulls = true).over(wPrev).as("ph"),
        first(col("sum_vc"), ignoreNulls = true).over(wNext).as("nv"),
        first(obsHour, ignoreNulls = true).over(wNext).as("nh"))
      .select(col("event_type"), col("hour"), col("n_events"),
        round(
          when(col("sum_vc").isNotNull, col("sum_vc").cast("double"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv").cast("double") +
                (col("nv") - col("pv")).cast("double") *
                (col("hour") - col("ph")).cast("double") /
                (col("nh") - col("ph")).cast("double")),
          4).as("interp_vc"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Non-equi interval self-join made linear by TIME BUCKETING — the
    * scale form of a range join with NO equi key (the equi-keyed case,
    * `events_range_pairs`, shuffles on user_id; this one has nothing to
    * shuffle on until we make a key): bucket time into window-width
    * cells, explode the LEFT side into its bucket ±1, and equi-join on
    * the bucket. Any pair within W must land in the same or adjacent
    * cell, so candidates are complete; each qualifying pair matches on
    * exactly ONE of the left side's three bucket values (the right
    * side's single bucket), so no dedup pass is needed. Join volume is
    * Σ per-bucket n², bounded by time density — not the n² of the
    * naive cross join the same predicate would otherwise plan as
    * (BroadcastNestedLoopJoin). Purchases within 10 min of each other. */
  def eventsRangeBucketed(s: SparkSession, dir: String): DataFrame = {
    val W = 600000000L // 10 min in µs
    val p = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("bucket", floor(col("us") / W))
    val probe = p.withColumn("jb",
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    probe.as("a").join(p.as("b"),
        col("a.jb") === col("b.bucket") &&
          col("a.event_id") < col("b.event_id") &&
          abs(col("a.us") - col("b.us")) <= W)
      .select(col("a.event_id").as("a_id"), col("b.event_id").as("b_id"),
        abs(col("a.us") - col("b.us")).as("gap_us"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** NEAREST-with-tolerance as-of join — the third merge_asof mode
    * beside backward ([[asofJoin]]) and the SCD2 point-in-time join:
    * for each purchase, the view by the same user with minimal |Δt|
    * within ±10 minutes, ties → the earlier view, then the smaller id
    * (sensor-alignment semantics). Window-only formulation: ONE
    * user-keyed shuffle of the tagged union, a backward running
    * max-struct and a forward running min-struct produce both
    * candidates, and the winner is a per-row comparison — no
    * time-range join, no candidate blowup, the same plan at any scale.
    * Struct extrema encode the tie-breaks: backward max(ts, −id) ⇒
    * latest-then-smallest-id; forward min(ts, id) ⇒
    * earliest-then-smallest-id. */
  def eventsAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val tol = 600000000L // 10 min in us
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      col("event_id"), unix_micros(col("ts")).as("us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), lit(1).as("tag"),
        col("event_id"), lit(null).cast("long").as("vid"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("us"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"), col("event_id").as("vid"))
    val u = p.unionByName(v)
      .withColumn("bs", when(col("tag") === 0,
        struct(col("us").as("vt"), (-col("vid")).as("negid"))))
      .withColumn("fs", when(col("tag") === 0,
        struct(col("us").as("vt"), col("vid").as("vid"))))
    val wB = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("tag").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u
      .withColumn("back", max(col("bs")).over(wB))
      .withColumn("fwd", min(col("fs")).over(wF))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("us"),
        (col("us") - col("back.vt")).as("bgap"),
        (-col("back.negid")).as("bid"),
        (col("fwd.vt") - col("us")).as("fgap"),
        col("fwd.vid").as("fid"))
      .withColumn("vb", col("bgap").isNotNull && col("bgap") <= tol)
      .withColumn("vf", col("fgap").isNotNull && col("fgap") <= tol)
      .select(col("event_id"), col("user_id"), col("us"),
        when(col("vb") && (!col("vf") || col("bgap") <= col("fgap")), col("bid"))
          .when(col("vf"), col("fid")).as("nearest_view_id"),
        when(col("vb") && (!col("vf") || col("bgap") <= col("fgap")), -col("bgap"))
          .when(col("vf"), col("fgap")).as("delta_us"))
      .orderBy(col("event_id"))
  }

  val declared: Seq[Declared] = Seq(
    // nearest as-of: explicit candidate ranking (gap, view_us, view_id)
    // within the +-10min tolerance; LEFT JOIN keeps unmatched purchases
    Declared("events_asof_nearest", eventsAsofNearest _,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS view_us
        |  FROM events WHERE event_type = 'view'),
        |cand AS (
        |  SELECT p.event_id, v.view_id, v.view_us,
        |    abs(v.view_us - p.us) AS gap, v.view_us - p.us AS delta
        |  FROM p JOIN v USING (user_id)
        |  WHERE abs(v.view_us - p.us) <= 600000000),
        |best AS (
        |  SELECT event_id, view_id, delta,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY gap ASC, view_us ASC, view_id ASC) AS rn
        |  FROM cand)
        |SELECT p.event_id, p.user_id, p.us,
        |  b.view_id AS nearest_view_id, b.delta AS delta_us
        |FROM p LEFT JOIN best b ON b.event_id = p.event_id AND b.rn = 1
        |ORDER BY p.event_id""".stripMargin),
    Declared("events_range_bucketed", eventsRangeBucketed _,
      """WITH p AS (
        |  SELECT event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase')
        |SELECT a.event_id AS a_id, b.event_id AS b_id,
        |  abs(a.us - b.us) AS gap_us
        |FROM p a JOIN p b
        |  ON a.event_id < b.event_id AND abs(a.us - b.us) <= 600000000
        |ORDER BY a_id, b_id""".stripMargin),
    Declared("events_asof_attribution", eventsAsofAttribution _,
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events)
        |SELECT p.event_id, p.user_id, p.us,
        |  (SELECT max(v.event_id) FROM e v
        |   WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.us <= p.us
        |     AND v.us = (SELECT max(v2.us) FROM e v2
        |                 WHERE v2.event_type = 'view' AND v2.user_id = p.user_id
        |                   AND v2.us <= p.us)) AS asof_view_id
        |FROM e p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin),
    Declared("events_range_pairs", eventsRangePairs _,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, count(*) AS n_close_pairs,
        |  CAST(min(abs(b.us - a.us)) AS BIGINT) AS min_gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |WHERE abs(b.us - a.us) <= 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),
    Declared("events_resample_locf", eventsResampleLocf _,
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |           CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |h AS (SELECT event_type, hour, CAST(sum(vc) AS BIGINT) AS sum_vc,
        |             count(*) AS n
        |      FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM e),
        |grid AS (SELECT t.event_type, g.hour
        |         FROM (SELECT DISTINCT event_type FROM e) t, b,
        |              unnest(range(b.h0, b.h1 + 1)) AS g(hour)),
        |j AS (SELECT grid.event_type, grid.hour, h.sum_vc, h.n
        |      FROM grid LEFT JOIN h
        |        ON grid.event_type = h.event_type AND grid.hour = h.hour)
        |SELECT event_type, hour, COALESCE(n, 0) AS n_events,
        |  last_value(sum_vc IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS locf_sum_vc
        |FROM j ORDER BY event_type, hour""".stripMargin),
    Declared("events_resample_interp", eventsResampleInterp _,
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |           CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |h AS (SELECT event_type, hour, CAST(sum(vc) AS BIGINT) AS sum_vc,
        |             count(*) AS n
        |      FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM e),
        |grid AS (SELECT t.event_type, g.hour
        |         FROM (SELECT DISTINCT event_type FROM e) t, b,
        |              unnest(range(b.h0, b.h1 + 1)) AS g(hour)),
        |j AS (SELECT grid.event_type, grid.hour, h.sum_vc, h.n
        |      FROM grid LEFT JOIN h
        |        ON grid.event_type = h.event_type AND grid.hour = h.hour),
        |w AS (SELECT event_type, hour, COALESCE(n, 0) AS n_events, sum_vc,
        |  last_value(sum_vc IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN sum_vc IS NOT NULL THEN hour END IGNORE NULLS)
        |    OVER wp AS ph,
        |  first_value(sum_vc IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN sum_vc IS NOT NULL THEN hour END IGNORE NULLS)
        |    OVER wn AS nh
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hour
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY event_type ORDER BY hour
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hour, n_events,
        |  round(CASE WHEN sum_vc IS NOT NULL THEN CAST(sum_vc AS DOUBLE)
        |        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |          CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
        |          CAST(hour - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)
        |        END, 4) AS interp_vc
        |FROM w ORDER BY event_type, hour""".stripMargin),
  )
}
