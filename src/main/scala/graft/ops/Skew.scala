package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared

/** Skew-mitigation utilities for the 100 TB posture.
  *
  * AQE's skew-join splitting handles join skew at runtime; aggregation
  * skew on a hot key (one key = billions of rows) still serializes into
  * one reducer. `saltedAgg` is the standard fix: a two-phase aggregate
  * over (key, salt) then key — correct for any algebraic aggregate
  * (sum/count/min/max), equality-tested in SkewSpec.
  */
object Skew {

  /** Two-phase salted aggregation: phase 1 aggregates (keys ++ salt)
    * partitions the hot key's rows across `saltBuckets` reducers; phase 2
    * re-aggregates the per-salt partials by key alone (tiny input:
    * |distinct keys| × saltBuckets rows).
    *
    * @param aggs (inputCol → (phase1Agg, phase2Agg, outName)); both
    *             phases must compose to the overall aggregate
    *             (sum/sum, count/sum, min/min, max/max).
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int,
      aggs: Seq[(Column, Column => Column, String)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(aggs.head._1.as(s"__p_${aggs.head._3}"),
        aggs.tail.map { case (a, _, n) => a.as(s"__p_$n") }: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(aggs.head._2(col(s"__p_${aggs.head._3}")).as(aggs.head._3),
        aggs.tail.map { case (_, f, n) => f(col(s"__p_$n")).as(n) }: _*)
  }

  /** Convenience: salted sum+count (the common hot-key shape). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
      saltBuckets: Int = 32): DataFrame =
    saltedAgg(df, keys, saltBuckets, Seq(
      (sum(col(valueCol)), (c: Column) => sum(c), s"sum_$valueCol"),
      (count(lit(1)), (c: Column) => sum(c), "n_rows")))

  /** Salted equi-join for a skewed probe side when the build side is too
    * large to broadcast: each probe row gets one deterministic-enough
    * salt in [0, saltBuckets); the build side is replicated once per
    * salt value. A hot join key's probe rows then spread over
    * saltBuckets reducers instead of serializing into one. Cost:
    * saltBuckets× replication of the build side — the classic trade
    * when AQE's runtime skew splitting can't apply (e.g. the join feeds
    * a co-partitioning requirement). Result-identical to the plain
    * join (each probe row joins exactly its salt's build copy) —
    * equality-tested in SkewSpec. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      saltBuckets: Int = 16): DataFrame = {
    // salt from ROW CONTENT, not monotonically_increasing_id: a stage
    // retry recomputes partition-position-based ids differently (the
    // SPARK-23207 class of bug), which could route a re-emitted row to
    // a reducer that already finished — duplicating or losing it.
    // Content-derived salt is retry-stable; identical rows sharing a
    // salt is harmless (the join result is per-row identical).
    val probeS = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.toIndexedSeq.map(probe.col): _*),
        lit(saltBuckets.toLong)))
    val buildS = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets.toLong - 1))))
    probeS.join(buildS, keys :+ "__salt").drop("__salt")
  }

  /** Declared query: salted sum/count of event value cents per type.
    * The salted two-phase result is algebraically identical to the
    * direct aggregate, so the oracle is the plain GROUP BY — which puts
    * the skew-mitigation path itself under the driver's hash check. */
  def skewSaltedEvents(s: SparkSession, dir: String): DataFrame =
    saltedSumCount(
      graft.Tables.events(s, dir)
        .select(col("event_type"), graft.Tables.cents(col("value")).as("vc")),
      Seq("event_type"), "vc", saltBuckets = 16)
      .orderBy(col("event_type"))

  val declared: Seq[Declared] = Seq(
    Declared("skew_salted_agg", skewSaltedEvents _,
      """SELECT event_type,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_vc,
        |  count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
  )
}
