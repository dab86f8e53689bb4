package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Sources

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("CSV corrupt roundtrip: the 3 injected bad lines reach the reader and are dropped") {
    import graft.sources.SourceQueries
    val path = SourceQueries.writeCsvWithBadRows(spark, dir)
    // PERMISSIVE with a corrupt-record column proves the bad lines
    // physically reach the reader (guards against the roundtrip passing
    // because bad-rows.csv was never read). Columns must be
    // materialized — a bare count() prunes them all and nothing is
    // parsed (see the malformed-CSV modes test below).
    val permissiveSchema = SourceQueries.csvRtSchema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val corrupt = spark.read.schema(permissiveSchema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .select("o_orderkey", "cents", "o_orderpriority", "_corrupt_record")
      .collect()
    assert(corrupt.length === 103)
    assert(corrupt.count(!_.isNullAt(3)) === 3)
    // the declared query keeps exactly the 100 good, fully-parsed rows
    val good = SourceQueries.sourceCsvCorruptRoundtrip(spark, dir).collect()
    assert(good.length === 100)
    assert(good.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("CSV and JSON round-trip preserve the relation (schema given)") {
    val tmp = GraftSession.tempDir("graft_src")
    val orig = Tables.nation(spark, dir)
    Sources.writeJson(orig, s"$tmp/nation_json")
    Sources.writeCsv(orig, s"$tmp/nation_csv")
    val viaJson = Sources.json(spark, s"$tmp/nation_json", Some(orig.schema))
    val viaCsv = Sources.csv(spark, s"$tmp/nation_csv", schema = Some(orig.schema))
    val key = Seq("n_nationkey", "n_name", "n_regionkey")
    assert(viaJson.select(key.map(col): _*).collect().toSet ===
      orig.select(key.map(col): _*).collect().toSet)
    assert(viaCsv.select(key.map(col): _*).collect().toSet ===
      orig.select(key.map(col): _*).collect().toSet)
  }

  test("malformed CSV rows: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val tmp = GraftSession.tempDir("graft_bad")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/data.csv"),
      "id,qty\n1,10\n2,notanumber\n3,30\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType),
      StructField("_corrupt", StringType)))
    val permissive = spark.read.option("header", true).schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(s"$tmp/data.csv").cache()
    assert(permissive.count() === 3)
    assert(permissive.filter(col("_corrupt").isNotNull).count() === 1)
    assert(permissive.filter(col("qty").isNull && col("_corrupt").isNotNull)
      .select("id").collect().map(_.getInt(0)).toSeq === Seq(2))
    val dropped = spark.read.option("header", true)
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").csv(s"$tmp/data.csv")
    // a bare count() prunes every column, so nothing is parsed and no
    // row can be judged malformed — materialize the columns instead
    assert(dropped.select("id", "qty").collect()
      .map(_.getInt(0)).toSeq.sorted === Seq(1, 3))
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.option("header", true)
        .schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").csv(s"$tmp/data.csv").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("malformed") ||
      ex.getCause != null)
  }

  test("ORC round-trip preserves the relation") {
    val tmp = GraftSession.tempDir("graft_orc")
    val orig = Tables.customer(spark, dir)
    Sources.writeOrc(orig, s"$tmp/customer_orc")
    val back = Sources.orc(spark, s"$tmp/customer_orc")
    assert(back.schema === orig.schema)
    assert(back.collect().toSet === orig.collect().toSet)
  }

  test("schema evolution: legacy-generation rows surface with NULL in the added column, none dropped") {
    import org.apache.spark.sql.functions._
    val rows = sources.SourceQueries.sourceSchemaEvolution(spark, dir).collect()
    val legacy = rows.find(_.getString(0) == "<legacy>").get
    val o = Tables.orders(spark, dir)
    // every even-keyed row (written without the column) lands in the
    // legacy bucket; totals partition the table exactly
    assert(legacy.getLong(1) === o.filter(col("o_orderkey") % 2 === 0).count())
    assert(rows.map(_.getLong(1)).sum === o.count())
  }

  test("partitioned parquet: planning-time partition pruning reaches the scan") {
    val tmp = GraftSession.tempDir("graft_part")
    val events = Tables.events(spark, dir)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    Sources.writeParquetPartitioned(events, s"$tmp/events_by_day", Seq("day"))
    val all = Sources.parquet(spark, s"$tmp/events_by_day")
    // partition-dir values are re-inferred on read (int here, long on write)
    val days = all.select(col("day").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(days.length > 1) // fixture spans multiple days
    val one = all.filter(col("day") === days.head)
    val plan = one.queryExecution.executedPlan.toString
    // the day predicate must prune directories at planning time, not
    // filter rows post-scan
    assert(plan.contains("PartitionFilters"), s"no partition pruning:\n$plan")
    assert(plan.contains(s"day#") || plan.contains("(day = "),
      s"day filter not in PartitionFilters:\n$plan")
    assert(one.count() ===
      events.filter(col("day") === days.head).count())
  }

  test("clustered parquet: every output file is internally sorted by the sort key") {
    val tmp = GraftSession.tempDir("graft_clustered")
    val events = Tables.events(spark, dir)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("us", expr("unix_micros(ts)"))
      .select("day", "us", "event_id", "event_type")
    Sources.writeParquetClustered(events, s"$tmp/ev", Seq("day"), Seq("us"))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(files.length > 1)
    files.foreach { f =>
      val us = spark.read.parquet(f).select("us").collect().map(_.getLong(0))
      assert(us.sameElements(us.sorted), s"unsorted file $f")
    }
    // and the round-trip preserves the relation
    val back = spark.read.parquet(s"$tmp/ev")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(back === events.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("CSV schema inference matches explicit schema on clean data") {
    val tmp = GraftSession.tempDir("graft_src2")
    Sources.writeCsv(Tables.region(spark, dir), s"$tmp/region_csv")
    val inferred = Sources.csv(spark, s"$tmp/region_csv")
    assert(inferred.schema.map(_.dataType.typeName).toSet === Set("integer", "string"))
    assert(inferred.count() === 5)
  }

  test("bloom round-trip: every written footer CARRIES the o_custkey bloom filter") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // an ignored writer option would silently demote the declared query
    // to a plain scan — assert the filter is physically in the footer
    val path = graft.sources.SourceQueries.writeBloomOrders(spark, dir)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
      try {
        rdr.getRowGroups.asScala.foreach { block =>
          val custCol = block.getColumns.asScala
            .find(_.getPath.toDotString == "o_custkey").get
          val bf = rdr.getBloomFilterDataReader(block).readBloomFilter(custCol)
          assert(bf != null, s"${f.getName}: no bloom filter on o_custkey")
          val keyCol = block.getColumns.asScala
            .find(_.getPath.toDotString == "o_orderkey").get
          assert(rdr.getBloomFilterDataReader(block).readBloomFilter(keyCol) == null,
            "bloom must be stamped ONLY on the configured column")
        }
      } finally rdr.close()
    }
    // and the declared query's aggregate equals the plain-parquet filter
    val got = graft.sources.SourceQueries.sourceBloomRoundtrip(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.orders(spark, dir)
      .filter(col("o_custkey").isin(1L, 7L, 42L, 999L))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(Tables.cents(col("o_totalprice"))).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }
}
