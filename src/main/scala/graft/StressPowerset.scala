package graft

import graft.insights.{InsightsEngine, PlayStore}

/** The flagship-number driver (r6 verdict, next-round #1): the reference's
  * ACTUAL workload is all 2^14−1 = 16 383 grouping subsets of its 14
  * Play-Store columns (reference main.py:345-348) — StressCube measures
  * the cube engine only to k=10, so this main measures the full k=14
  * powerset on the r1 head-to-head corpus shape (SynthPlayStore: one
  * ~5000-distinct id column, the rest low-cardinality post-bucketing,
  * id→value columns functionally dependent).
  *
  * Variants timed (identical surviving-insight sets, require()-checked):
  *  - pruned: `insightsPruned` — the shipping scale-mode body: its own
  *            level-1 pass (timed with it), then the dict cube over the
  *            popular values of the columns that have any;
  *  - dict:   `insightsCubeNativeDict` — the unpruned dict cube
  *            (count-only HashAggregate below the 2^14 Expand, value
  *            columns re-attached post-HAVING from broadcast dicts);
  *  - hybrid: `insightsHybrid(highCard={developerId}, dictValues=true)` —
  *            the cube+loop split on the single wide column (2^13 = 8 192
  *            loop subsets at k=14);
  *  - iceberg: `insightsCubeIceberg(highCard={developerId})` — pruning
  *            on the wide column only;
  *  - string: `insightsCube` — the golden string-key sentinel cube, the
  *            r1-proven A/B sibling, priced at the same k.
  *
  * The loop/compat shape is NOT run at k=14: it plans 16 383 separate
  * aggregates and its driver planning alone takes minutes (SCALE.md) —
  * measured to k=10 in BASELINE.md's head-to-head instead.
  *
  * Usage: runMain graft.StressPowerset <playstore.csv> [k=14] [variants=pruned,dict]
  * (the others must be asked for explicitly: variants=pruned,dict,string,hybrid,iceberg)
  */
object StressPowerset {
  def main(args: Array[String]): Unit = {
    val csv = args.headOption.getOrElse(sys.error(
      "usage: StressPowerset <playstore.csv> [k] [variants]"))
    val k = if (args.length > 1) args(1).toInt else 14
    val variants: Seq[String] =
      (if (args.length > 2) args(2) else "pruned,dict").split(",").toSeq

    val spark = GraftSession.local(GraftSession.cpus())

    val cfg = PlayStore.cfg.copy(groupingCols = PlayStore.cfg.groupingCols.take(k))
    // Same input discipline as extractScale: explicit schema (no inference
    // pass), per-task Expand volume bounded by re-balancing the scan's
    // partitions up to the core count (SCALE.md input-partition rule).
    val prepared0 = PlayStore.prepare(
      PlayStore.readCsv(spark, csv, schema = Some(PlayStore.schema)))
    val cores = spark.sparkContext.defaultParallelism
    val prepared = (if (prepared0.rdd.getNumPartitions < cores)
      prepared0.repartition(cores) else prepared0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l1 = InsightsEngine.levelOne(prepared, cfg)
    val n = l1.n
    println(s"POWERSET input_rows=$n k=$k subsets=${(1L << k) - 1} " +
      s"threshold=${l1.threshold} kept=${l1.kept(cfg).mkString(",")}")

    // identical-OUTPUT check across variants, not just identical counts:
    // one extra aggregate per run folds the insight strings into an
    // order-insensitive, duplicate-sensitive checksum (sum of xxhash64) —
    // variants are unionAll bags, so Σhash equality over equal counts
    // pins the multiset. String-key-cube output ('null' sentinel rendering
    // differs from native rendering only in columns no fixture nulls) is
    // included because the three native variants and it agree goldenly.
    var expectRows = -1L
    var expectSum = BigDecimal(0)
    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{sum => fsum, xxhash64, count => fcount, lit, coalesce, col}
      val t0 = System.nanoTime()
      // sum the 64-bit hashes in decimal(38,0): a Long sum of full-range
      // hashes overflows (and throws under ANSI) beyond a handful of rows
      val r = df.agg(fcount(lit(1)).as("n"),
          coalesce(fsum(xxhash64(col("insight")).cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("h"))
        .collect()(0)
      val (rows, hsum) = (r.getLong(0), BigDecimal(r.getDecimal(1)))
      val sec = (System.nanoTime() - t0) / 1e9
      if (expectRows < 0) { expectRows = rows; expectSum = hsum }
      else {
        require(rows == expectRows, s"$name rows=$rows != $expectRows")
        require(hsum == expectSum, s"$name output multiset differs: " +
          s"hashsum=$hsum != $expectSum at equal counts")
      }
      println(f"POWERSET variant=$name k=$k surviving_groups=$rows " +
        f"hashsum=$hsum sec=$sec%.1f")
    }
    variants.foreach {
      case "pruned" => time("pruned") {
        InsightsEngine.insightsPruned(prepared, cfg)
      }
      case "dict" => time("dict") {
        InsightsEngine.insightsCubeNativeDict(prepared, cfg, n)
      }
      case "string" => time("string") {
        InsightsEngine.insightsCube(prepared, cfg, n)
      }
      case "hybrid" => time("hybrid") {
        InsightsEngine.insightsHybrid(prepared, cfg, n,
          highCard = Set("developerId"), dictValues = true)
      }
      case "iceberg" => time("iceberg") {
        InsightsEngine.insightsCubeIceberg(prepared, cfg, n,
          highCard = Set("developerId"))
      }
      case other => sys.error(s"unknown variant $other")
    }
    spark.stop()
  }
}
