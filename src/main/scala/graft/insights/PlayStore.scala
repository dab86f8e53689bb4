package graft.insights

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** The reference pipeline itself (grey-h/app-insights-generator
  * `main.py:363-404`): Play-Store CSV → int casts → range filter →
  * floor-bucket → all 2^14−1 grouping-set insights → CSV append →
  * compaction. Config literals mirror `main.py:57-120`.
  *
  * Two execution modes (SURVEY.md §7.3):
  *  - compat: the reference's literal loop — repartition(2), cache, one
  *    aggregate per subset, 128-subset unionAll batches, two-phase write;
  *  - scale: single-cube shuffle, no coalesce(1), partition count left to
  *    AQE — the plan that survives 100 TB.
  */
object PlayStore {

  /** Columns force-cast to int after inference (main.py:106-116,151-160). */
  val numericCols: Seq[String] = Seq("minInstalls", "originalPrice", "price",
    "ratings", "len screenshots", "reviews", "score", "releasedYear")

  /** Bucket widths (main.py:106-115). NB `len screenshots` has a space. */
  val buckets: Map[String, Long] = Map(
    "minInstalls" -> 1000000L, "originalPrice" -> 100L, "price" -> 100L,
    "ratings" -> 1000000L, "len screenshots" -> 5L, "reviews" -> 1000000L,
    "score" -> 1L, "releasedYear" -> 5L)

  /** Id cols group but display their value cols (main.py:77-84). */
  val idValues: Map[String, Seq[String]] = Map(
    "developerId" -> Seq("developer", "developerWebsite"),
    "genreId" -> Seq("genre"))

  /** The 14 grouping columns, canonical order (main.py:88-103). */
  val groupingCols: Seq[String] = Seq("developerId", "free", "genreId",
    "minInstalls", "offersIAP", "originalPrice", "price", "ratings",
    "len screenshots", "adSupported", "containsAds", "reviews", "score",
    "releasedYear")

  val cfg: InsightsConfig = InsightsConfig(groupingCols, buckets, idValues,
    thresholdPercent = 2.0)

  /** Data-cleaning ranges (main.py:206-218; upper year hardcoded there). */
  val rangeFilters: Seq[(String, Long, Long)] =
    Seq(("ratings", 0L, 100L), ("releasedYear", 1971L, 2023L))

  /** Explicit Play-Store CSV schema — the engine default (SURVEY.md §1.2):
    * schema inference costs an extra full pass over the input and is
    * nondeterministic under data drift at 100 TB. Types are the widest
    * the reference's inference produces on the public dataset; the
    * numeric columns are cast to int by `clean` afterwards either way,
    * so schema-read and inference-read pipelines agree (golden-tested). */
  val schema: StructType = StructType(Seq(
    StructField("_c0", LongType), StructField("appId", StringType),
    StructField("developer", StringType), StructField("developerId", StringType),
    StructField("developerWebsite", StringType), StructField("free", BooleanType),
    StructField("genre", StringType), StructField("genreId", StringType),
    StructField("minInstalls", LongType), StructField("offersIAP", BooleanType),
    StructField("originalPrice", DoubleType), StructField("price", DoubleType),
    StructField("ratings", LongType), StructField("len screenshots", LongType),
    StructField("adSupported", BooleanType), StructField("containsAds", BooleanType),
    StructField("reviews", LongType), StructField("score", DoubleType),
    StructField("releasedYear", LongType)))

  /** O1: CSV source. The reference passes a numPartitions read option the
    * CSV source ignores — not replicated. Explicit schema optional;
    * default mirrors the reference's header+inferSchema. */
  def readCsv(spark: SparkSession, path: String, header: Boolean = true,
      inferSchema: Boolean = true, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", header)
    schema match {
      case Some(st) => r.schema(st).csv(path)
      case None     => r.option("inferSchema", inferSchema).csv(path)
    }
  }

  /** O2/O17: CSV sink, append mode, optional single file. */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.option("header", header).mode(SaveMode.Append).csv(path)
  }

  /** O3+O4: int casts then range filters. */
  def clean(df: DataFrame): DataFrame =
    InsightsEngine.rangeFilter(InsightsEngine.castInts(df, numericCols), rangeFilters)

  /** O5: floor-bucket the numeric columns. */
  def prepare(df: DataFrame): DataFrame = InsightsEngine.bucket(clean(df), buckets)

  /** Full job, compat mode (reference main.py:363-404): batched loop with
    * `first()` semantics and two-phase output (O20: append batches under
    * `<out>_partitioned`, then compact to one CSV at `<out>`). The
    * reference writes every CSV with header=True and names the single
    * output column "Insights" (main.py:312,358,393) — reproduced here so
    * compat-mode files are format-identical. */
  def extractCompat(spark: SparkSession, csvPath: String, outPath: String,
      batchSize: Int = 128, numPartitions: Int = 2,
      config: InsightsConfig = cfg): Unit = {
    val prepared = prepare(readCsv(spark, csvPath))
      .repartition(numPartitions) // O16
      .cache()                    // O18
    try {
      val n = prepared.count()    // O19 — the single reused count
      InsightsEngine.enumerateLoop(prepared, config, n, batchSize, useFirst = true)
        .foreach(batch => writeCsv(batch.withColumnRenamed("insight", "Insights"),
          s"${outPath}_partitioned", header = true))
      val all = readCsv(spark, s"${outPath}_partitioned", header = true,
        inferSchema = true)       // O20 re-read (main.py:393 passes True, True)
      writeCsv(all, outPath, header = true)
    } finally prepared.unpersist()
  }

  /** Full job, scale mode: one cube shuffle, parallel output. At 100 TB
    * this is the only viable shape — 16 383 aggregate exchanges over the
    * same cached input (compat mode) do not survive a real cluster.
    *
    * Plan shape (r6 verdict #1/#2): the cube aggregate below the 2^k
    * Expand carries ONLY count+grouping_id (fixed-width → HashAggregate;
    * `min(string)` value buffers would force SortAggregate exactly where
    * row volume is ×2^k) — value columns re-attach post-HAVING from
    * broadcast dictionaries (`insightsCubeNativeDict`; valid because the
    * Play-Store id→value columns are functionally dependent on their id).
    * Display semantics are therefore deterministic `min` per id, not the
    * reference's nondeterministic `first()` — compat mode keeps `first()`
    * literally; scale mode's output for value columns is one reproducible
    * member of the reference's nondeterministic output family.
    *
    * Pruning: one level-1 pass (`InsightsEngine.levelOne`, a grouping-sets
    * count over `()` and each column) gives N and every column's popular
    * values; the cube then sees each unpopular value as NULL and only
    * the columns with a popular value (`InsightsEngine.insightsPruned`).
    * It prints `INSIGHTS route=<pruned|cube|empty> n=… threshold=…
    * kept=… popular=col:count,…` when that pass ends. The CSV is parsed
    * once by the level-1 pass, once by the cube and once per kept id
    * column's display dictionary: three times when one id column is
    * kept. */
  def extractScale(spark: SparkSession, csvPath: String, outPath: String,
      config: InsightsConfig = cfg): Unit =
    scaleInsights(spark, csvPath, config)
      .write.mode(SaveMode.Overwrite).option("header", false).csv(outPath)

  /** `extractScale` up to its write: runs the level-1 pass, prints the
    * route line, and returns the planned insight rows. */
  def scaleInsights(spark: SparkSession, csvPath: String,
      config: InsightsConfig = cfg): DataFrame = {
    // scale mode reads with the explicit schema: no inference pass
    val prepared = prepare(readCsv(spark, csvPath, schema = Some(schema)))
    val l1 = InsightsEngine.levelOne(prepared, config)
    val kept = l1.kept(config)
    val route = if (kept.isEmpty) "empty" else if (l1.pruning) "pruned" else "cube"
    val popular =
      if (l1.pruning) config.groupingCols.map(c => s"$c:${l1.popular(c).size}").mkString(",")
      else "all"
    println(s"INSIGHTS route=$route n=${l1.n} threshold=${l1.threshold} " +
      s"kept=${kept.mkString(",")} popular=$popular")
    InsightsEngine.insightsPruned(prepared, config, l1)
  }
}
