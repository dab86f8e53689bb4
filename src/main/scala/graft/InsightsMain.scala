package graft

import org.apache.spark.sql.SparkSession
import graft.insights.PlayStore

/** CLI entry for the Play-Store insights job — the engine's equivalent of
  * the reference's `spark-submit main.py --csv_file_path ... --output_path
  * ...` (reference main.py:407-421). A user of the reference switches by
  * pointing spark-submit at this class.
  *
  * Usage: InsightsMain --csv_file_path <in.csv> --output_path <outdir>
  *          [--mode compat|scale] [--batch_size 128] [--num_partitions 2]
  *          [--max_cols k]
  *
  * Scale mode (`PlayStore.extractScale`) runs one level-1 pass for N and
  * each column's popular values, prints its `INSIGHTS route=` line, and
  * cubes only the popular values of the columns that have any. There is
  * no routing knob: the pruning is exact for every input.
  *
  * `--max_cols` truncates the grouping universe to the first k columns
  * (2^k−1 subsets). Compat mode literally replays the reference's
  * one-aggregate-per-subset loop: at the full k=14 that is 16 383
  * planned aggregates — the reference's own O(2^k) planning/job
  * pathology — so bound k for compat runs; scale mode (single cube)
  * handles the full 14 columns in one job.
  */
object InsightsMain {
  private val Usage = "usage: InsightsMain --csv_file_path <in.csv> --output_path <outdir> " +
    "[--mode compat|scale] [--batch_size 128] [--num_partitions 2] [--max_cols k]"

  private val Keys =
    Set("csv_file_path", "output_path", "mode", "batch_size", "num_partitions", "max_cols")

  /** `--key value` pairs as a map. An odd argument count, a key without
    * `--` or a key outside the usage line fails with the usage line, so a
    * typo or a removed flag never runs silently with the defaults. */
  private[graft] def parseArgs(args: Seq[String]): Map[String, String] = {
    def fail(why: String) = throw new IllegalArgumentException(s"$why\n$Usage")
    if (args.length % 2 != 0) fail(s"expected --key value pairs, got ${args.length} arguments")
    args.grouped(2).map { pair =>
      val (k, v) = (pair(0), pair(1))
      if (!k.startsWith("--")) fail(s"expected a --key, got '$k'")
      if (!Keys(k.drop(2))) fail(s"unknown option $k")
      k.drop(2) -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq)
    val csvPath = opts.getOrElse("csv_file_path",
      sys.error("--csv_file_path is required"))
    val outPath = opts.getOrElse("output_path",
      sys.error("--output_path is required"))
    val mode = opts.getOrElse("mode", "scale")

    val builder = SparkSession.builder()
      .appName("graft-insights")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit provides spark.master; default to local[*] otherwise
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = opts.get("max_cols").map(_.toInt) match {
      case Some(k) => PlayStore.cfg.copy(
        groupingCols = PlayStore.cfg.groupingCols.take(k))
      case None => PlayStore.cfg
    }
    try {
      mode match {
        case "compat" => PlayStore.extractCompat(spark, csvPath, outPath,
          opts.get("batch_size").map(_.toInt).getOrElse(128),
          opts.get("num_partitions").map(_.toInt).getOrElse(2), cfg)
        case "scale" => PlayStore.extractScale(spark, csvPath, outPath, config = cfg)
        case other => sys.error(s"unknown --mode $other (compat|scale)")
      }
    } finally spark.stop()
  }
}
