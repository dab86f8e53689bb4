package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Z-order (Morton) layout: the interleave must be a bijection on the
  * (x, y) grid (else the sort key conflates distinct cells) and its
  * z-range buckets must cover tight rectangles (else row-group min/max
  * stats on the underlying dims are useless — the whole point of the
  * layout). */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zValue is a bijection on the 16x16 grid and zExtract inverts it") {
    val grid = (for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val out = grid.select(col("x"), col("y"),
        Layout.zValue(col("x"), col("y"), bits = 4).as("z"))
      .withColumn("x2", Twins.zExtract(col("z"), odd = false, bits = 4))
      .withColumn("y2", Twins.zExtract(col("z"), odd = true, bits = 4))
      .collect()
    assert(out.map(_.getLong(2)).toSet.size === 256) // injective
    assert(out.map(_.getLong(2)).forall(z => z >= 0 && z < 256)) // onto
    out.foreach { r =>
      assert(r.getLong(3) === r.getLong(0) && r.getLong(4) === r.getLong(1))
    }
  }

  test("reference Morton codes") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (255L, 0L), (0L, 255L))
      .toDF("x", "y")
    val zs = df.select(Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x bits land on even positions, y bits on odd
    assert(zs === Seq(0L, 1L, 2L, 3L, 0x5555L, 0xAAAAL))
  }

  test("a z-range covers a bounded rectangle in both dims") {
    val e = Layout.layoutZorderEvents(spark, "/root/testdata/sf0.001").collect()
    assert(e.nonEmpty)
    e.foreach { r =>
      val (minUb, maxUb) = (r.getLong(2), r.getLong(3))
      val (minHr, maxHr) = (r.getLong(4), r.getLong(5))
      // 64 consecutive z codes span at most an 8x8 tile (3 x-bits and
      // 3 y-bits vary), so per-bucket extents are bounded by 8 — the
      // data-skipping guarantee the layout exists for
      assert(maxUb - minUb <= 8, s"ub extent too wide in $r")
      assert(maxHr - minHr <= 8, s"hr extent too wide in $r")
    }
  }

  test("z-ordered write round-trips rows unchanged") {
    val path = GraftSession.tempDir("graft_zw") + "/e"
    val src = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), pmod(col("user_id"), lit(256L)).as("ub"),
        hour(col("ts")).cast("long").as("hr"))
    Layout.writeZOrdered(src, path, "ub", "hr")
    val back = spark.read.parquet(path)
    assert(back.count() === src.count())
    assert(back.columns.sorted === src.columns.sorted)
    assert(back.agg(sum("event_id")).head.getLong(0) ===
      src.agg(sum("event_id")).head.getLong(0))
  }

  test("partitioned z-ordered write: same data schema as unpartitioned, no _z") {
    val base = GraftSession.tempDir("graft_zwp")
    val src = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(256L)).as("ub"),
        hour(col("ts")).cast("long").as("hr"))
    Layout.writeZOrdered(src, s"$base/flat", "ub", "hr")
    Layout.writeZOrdered(src, s"$base/part", "ub", "hr", Seq("event_type"))
    val flat = spark.read.parquet(s"$base/flat")
    val part = spark.read.parquet(s"$base/part")
    // r4 ADVICE: the clustered branch used to persist _z as a data
    // column, so the two branches disagreed on schema
    assert(!part.columns.contains("_z"))
    assert(flat.columns.sorted === part.columns.sorted)
    assert(part.count() === src.count())
    assert(part.agg(sum("event_id")).head.getLong(0) ===
      src.agg(sum("event_id")).head.getLong(0))
    // directory layout really is hive-partitioned on event_type
    val dirs = new java.io.File(s"$base/part").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("event_type=")))
  }
}
