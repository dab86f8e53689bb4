package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Unified source/sink surface: the reference reads/writes only CSV
  * (SURVEY.md §2.1 O1/O2); the engine generalizes the same options to
  * CSV, JSON and Parquet with either schema inference (reference
  * behavior) or an explicit StructType (the 100 TB default — inference
  * costs an extra pass over the data and is nondeterministic under
  * schema drift).
  */
object Sources {

  def csv(spark: SparkSession, path: String, header: Boolean = true,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", header)
    schema.fold(r.option("inferSchema", true).csv(path))(st => r.schema(st).csv(path))
  }

  def json(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r.json(path))(st => r.schema(st).json(path))
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC — the other columnar format Spark reads vectorized; same
    * predicate-pushdown/column-pruning behavior as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: SaveMode = SaveMode.Append): Unit =
    df.write.option("header", header).mode(mode).csv(path)

  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Clustered parquet layout: hive-partitioned by coarse columns AND
    * sorted within each output file by fine-grained columns. The sort
    * makes parquet row-group min/max statistics selective, so a filter
    * on the sort column skips entire row groups at scan time — the
    * within-partition analogue of directory pruning, and the main lever
    * (after partitioning) for 100 TB scan locality. `repartition` on
    * the partition columns first, so each output partition directory is
    * written by one task as one sorted file run, not `shuffle.partitions`
    * interleaved fragments. */
  def writeParquetClustered(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      // partition columns lead the sort: the file writer REQUIRES an
      // ordering on them and would otherwise insert its own sort above
      // ours — Spark's sort is not spill-stable, so that second sort
      // could silently destroy the sortCols order at scale. Sorting
      // (partitionCols ++ sortCols) satisfies the writer's requirement
      // directly, so exactly one sort runs.
      .sortWithinPartitions((partitionCols ++ sortCols).map(df.col): _*)
      .write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Hive-style partitioned parquet layout (`path/col=value/...`). At
    * 100 TB this is the coarse-grained data-skipping lever: a filter on
    * the partition column prunes entire directories at PLANNING time
    * (`PartitionFilters` in the scan — asserted in SourcesSpec), before
    * row groups or column chunks are even considered. Choose partition
    * columns with bounded cardinality (day, region), never high-card
    * keys — millions of tiny directories defeat the listing. */
  def writeParquetPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
}
