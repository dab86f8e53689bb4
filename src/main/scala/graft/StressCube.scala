package graft
import org.apache.spark.sql.functions._

/** Grouping-set scale driver: the cube-native insights engine over sf0.1
  * lineitem (600k rows) at k=6/8/10 grouping columns (63/255/1023
  * subsets) — the measured backing for the flagship O15 claim (ONE
  * Expand + ONE exchange vs the reference's one-aggregate-per-subset
  * loop).
  *
  * The input is REPARTITIONED to the core count first: the sf0.1 parquet
  * is a single 10 MB row group → one input partition, so without it the
  * entire rows×2^k Expand and its partial aggregate run in ONE task,
  * whose agg hash map overflows and degrades to a single-threaded
  * external TimSort (measured: k=10 straggler task >15 min of CPU while
  * 15 cores idle). A 100 TB input arrives in thousands of partitions, so
  * per-task Expand volume is naturally bounded; the repartition makes
  * the local bench representative of that layout instead of of a
  * one-row-group file. Same lesson applies in production: cap
  * files.maxPartitionBytes so rows-per-task × 2^k stays within the
  * partial-agg hash map, or the map's sort fallback serializes the cube.
  */
object StressCube {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(16)
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1").repartition(32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cfg = insights.InsightsConfig(
      groupingCols = Seq("l_returnflag","l_linestatus","l_quantity","l_discount","l_tax",
        "l_shipyear","l_partbucket","l_suppbucket","l_orderbucket","l_linenumber"),
      buckets = Map("l_partbucket"->500L, "l_suppbucket"->20L, "l_orderbucket"->10000L))
    val df = li.withColumn("l_shipyear", year(col("l_shipdate")))
      .withColumn("l_partbucket", col("l_partkey"))
      .withColumn("l_suppbucket", col("l_suppkey"))
      .withColumn("l_orderbucket", col("l_orderkey"))
    for (k <- Seq(6, 8, 10)) {
      val c = cfg.copy(groupingCols = cfg.groupingCols.take(k))
      val t0 = System.nanoTime()
      val n = insights.InsightsEngine.insightsCube(df, c, 600000L).count()
      val t1 = System.nanoTime()
      val n2 = insights.InsightsEngine.insightsCubeNative(df, c, 600000L).count()
      val t2 = System.nanoTime()
      require(n == n2, s"native cube row count $n2 != string cube $n")
      println(f"STRESS k=$k subsets=${(1<<k)-1} surviving_groups=$n " +
        f"string_sec=${(t1-t0)/1e9}%.1f native_sec=${(t2-t1)/1e9}%.1f")
    }
    spark.stop()
  }
}
