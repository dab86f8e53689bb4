package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md) plus
  * shared exact-arithmetic helpers used by the declared queries.
  *
  * Oracle-parity policy: every declared query must hash-match DuckDB on
  * the same parquet. Floating-point accumulation order differs between
  * engines, so sums over 2-decimal money columns are computed in integer
  * cents (`round(x*100)` per row, then an exact Long sum). Per-row double
  * arithmetic (same IEEE ops on the same operands) is deterministic and
  * identical across engines, so row-level `round(expr*100)` is safe.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) (readable only as long nanos
    * under the nanosAsLong legacy conf) vs plain timestamp[us] with no
    * timezone (read as TimestampNTZ). Branch on the type Spark actually
    * loaded and normalize to TimestampType so every downstream operator
    * sees one schema:
    *  - LongType → nanos-as-long; integer `div 1000` (a double division
    *    would lose precision on 1.7e18-scale nanos), then timestamp_micros;
    *  - TimestampNTZ → cast to TimestampType (session TZ is pinned UTC in
    *    every entrypoint, so the NTZ→LTZ cast is value-preserving);
    *  - TimestampType → already normalized, pass through;
    *  - anything else → fail HERE with the observed type. A third
    *    physical-type drift of events.parquet (this function exists
    *    because there were already two) must surface at the loader, not
    *    as wrong window/watermark arithmetic three operators downstream. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
    case TimestampType    => df
    case other => throw new IllegalStateException(
      s"events.parquet ts has unhandled physical type $other — " +
        "extend Tables.normalizeTs for this testdata generation")
  }

  /** Requires `spark.sql.legacy.parquet.nanosAsLong=true` in the session
    * (set once by every entrypoint builder — Verify/Bench/tests/CLIs, not
    * mutated here per-load): a no-op for µs data, it lets a
    * TIMESTAMP(NANOS) generation of the file load as long nanos instead
    * of failing at schema conversion, keeping this loader adaptive to
    * either physical type. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exact integer cents for a 2-decimal money expression. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer cents of `price * (1 - discount)` (per-row double math
    * is bit-identical across engines; the sum of longs is exact). */
  def revenueCents(price: Column, discount: Column): Column =
    round(price * (lit(1.0) - discount) * 100).cast("long")

  /** `year(c) = y` as a sargable timestamp range: `year(col) = N` wraps
    * the column in a function, which parquet row-group statistics cannot
    * serve — the scan reads everything. The equivalent half-open range
    * predicate reaches PushedFilters (session TZ is pinned UTC, so the
    * calendar year is exactly [y-01-01, (y+1)-01-01)). */
  def yearIs(c: Column, y: Int): Column =
    c >= lit(f"$y%04d-01-01").cast("timestamp") &&
      c < lit(f"${y + 1}%04d-01-01").cast("timestamp")

  /** `year(c) BETWEEN lo AND hi`, same sargable-range rationale. */
  def yearBetween(c: Column, lo: Int, hi: Int): Column =
    c >= lit(f"$lo%04d-01-01").cast("timestamp") &&
      c < lit(f"${hi + 1}%04d-01-01").cast("timestamp")
}
