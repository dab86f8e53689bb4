package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.Tables._

/** Multi-dimensional data layout: Z-order (Morton) interleaving.
  *
  * A parquet file sorted on ONE column serves range filters on that
  * column from row-group min/max stats, but a filter on a second column
  * reads everything. Interleaving the bits of two bounded dimensions
  * into one sort key makes row groups tight rectangles in BOTH
  * dimensions, so filters on either column (or both) skip row groups —
  * the standard lever behind Delta/Iceberg `ZORDER BY`, here as a plain
  * column expression feeding the existing clustered parquet writer.
  * At 100 TB this is a layout-time cost (one sort) paid once per table
  * to serve every subsequent multi-dimensional scan.
  *
  * The interleave is pure integer shift/mask arithmetic — bit-identical
  * in any engine, so the declared query has a full DuckDB oracle.
  */
object Layout {

  /** Morton code of two `bits`-bit non-negative ints: bit k of x lands
    * at position 2k, bit k of y at 2k+1. Codegen'd end-to-end (shifts,
    * masks, ORs — no UDF, no lambda). */
  def zValue(x: Column, y: Column, bits: Int = 8): Column =
    (0 until bits).map { k =>
      shiftleft(shiftright(x, k).bitwiseAND(1), 2 * k)
        .bitwiseOR(shiftleft(shiftright(y, k).bitwiseAND(1), 2 * k + 1))
    }.reduce(_.bitwiseOR(_))

  /** Z-ordered clustered parquet layout: sort key = interleaved dims.
    * Both branches drop the synthetic `_z` before the write (it is a
    * layout key, not data — its value is fully recoverable from (x, y)
    * via [[zValue]]), so the on-disk schema equals the input schema
    * regardless of partitioning. Dropping AFTER the sort is safe: a
    * projection preserves its child's ordering, and the writer's
    * required ordering is on partitionCols, which survive. */
  def writeZOrdered(df: DataFrame, path: String, x: String, y: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val zed = df.withColumn("_z", zValue(col(x), col(y)))
    if (partitionCols.isEmpty)
      zed.repartitionByRange(col("_z")).sortWithinPartitions(col("_z"))
        .drop("_z").write.mode("overwrite").parquet(path)
    else
      zed.repartition(partitionCols.map(zed.col): _*)
        // partition columns lead the sort so the file writer's required
        // ordering is met by this one sort (see writeParquetClustered)
        .sortWithinPartitions((partitionCols :+ "_z").map(zed.col): _*)
        .drop("_z")
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Declared demonstration query: z-code events on (user bucket,
    * hour-of-day), then show per-z-range extents — each 64-code bucket
    * covers a tight rectangle in (user, hour) space, which is exactly
    * why row groups written in z order can be skipped on either
    * dimension. Map-side projection + one small aggregate. */
  def layoutZorderEvents(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(
      pmod(col("user_id"), lit(256L)).as("ub"),
      hour(col("ts")).cast("long").as("hr"))
    e.select(col("ub"), col("hr"), zValue(col("ub"), col("hr")).as("z"))
      .groupBy(shiftright(col("z"), 6).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ub")).as("min_ub"), max(col("ub")).as("max_ub"),
        min(col("hr")).as("min_hr"), max(col("hr")).as("max_hr"))
      .orderBy(col("z_bucket"))
  }

  private val zTermsSql: String = (0 until 8).flatMap { k =>
    Seq(s"(((x >> $k) & 1) << ${2 * k})", s"(((y >> $k) & 1) << ${2 * k + 1})")
  }.mkString(" | ")

  val declared: Seq[Declared] = Seq(
    Declared("layout_zorder_events", layoutZorderEvents _,
      s"""WITH e AS (
         |  SELECT user_id % 256 AS x, CAST(hour(ts) AS BIGINT) AS y
         |  FROM events),
         |z AS (SELECT x, y, ($zTermsSql) AS z FROM e)
         |SELECT z >> 6 AS z_bucket, count(*) AS n,
         |  min(x) AS min_ub, max(x) AS max_ub,
         |  min(y) AS min_hr, max(y) AS max_hr
         |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin),
  )
}
