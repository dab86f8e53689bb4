package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.insights.{InsightsConfig, InsightsEngine}

/** Randomized cross-mode equivalence for the core engine: on seeded
  * random frames WITH NULLS in every grouping column, every enumeration
  * strategy (reference loop, single cube, hybrid split, dictionary-join
  * cube, iceberg and level-1-pruned cubes) must produce the identical
  * insight-string set.
  * This is the hardest part of the cube translation — data-null vs
  * grouping()-null disambiguation via the sentinel, per-subset null
  * rejection, id→value suppression — exercised on inputs no golden
  * fixture anticipates.
  */
class InsightsRandomizedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = InsightsConfig(
    groupingCols = Seq("cat", "idc", "num"),
    buckets = Map("num" -> 10L),
    idValues = Map("idc" -> Seq("val")),
    thresholdPercent = 2.0)

  private def randomFrame(seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(300)((
      if (rnd.nextInt(10) == 0) null else s"c${rnd.nextInt(3)}",
      if (rnd.nextInt(10) == 0) null else s"id${rnd.nextInt(3)}",
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong)))
    rows.toDF("cat", "idc", "num")
      // value col functionally determined by the id col (dict-mode premise)
      .withColumn("val", when(col("idc").isNotNull, concat(lit("name_"), col("idc"))))
  }

  test("loop == cube == hybrid == dict on random null-riddled frames", Slow) {
    for (seed <- Seq(1L, 7L, 42L, 1234L, 987654L)) {
      val df = randomFrame(seed).cache()
      val n = df.count()
      val loop = InsightsEngine.enumerateLoop(df, cfg, n, useFirst = false)
        .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
      val cube = InsightsEngine.insightsCube(df, cfg, n)
        .collect().map(_.getString(0)).toSet
      val hybrid = InsightsEngine.insightsHybrid(df, cfg, n, highCard = Set("num"))
        .collect().map(_.getString(0)).toSet
      val native = InsightsEngine.insightsCubeNative(df, cfg, n)
        .collect().map(_.getString(0)).toSet
      val nativeDict = InsightsEngine.insightsCubeNativeDict(df, cfg, n)
        .collect().map(_.getString(0)).toSet
      val iceberg1 = InsightsEngine.insightsCubeIceberg(df, cfg, n,
        highCard = Set("num")).collect().map(_.getString(0)).toSet
      val iceberg2 = InsightsEngine.insightsCubeIceberg(df, cfg, n,
        highCard = Set("cat", "num")).collect().map(_.getString(0)).toSet
      val pruned = InsightsEngine.insightsPruned(df, cfg)
        .collect().map(_.getString(0)).toSet
      // incremental: cube two disjoint splits, merge cores, re-threshold
      val incremental = InsightsEngine.insightsCubeIncremental(
        df.filter(pmod(coalesce(col("num"), lit(0L)), lit(2L)) === 0),
        df.filter(pmod(coalesce(col("num"), lit(0L)), lit(2L)) =!= 0),
        cfg, n).collect().map(_.getString(0)).toSet
      assert(cube === loop, s"cube != loop at seed $seed")
      assert(incremental === loop, s"incremental != loop at seed $seed")
      assert(hybrid === loop, s"hybrid != loop at seed $seed")
      assert(native === loop, s"native != loop at seed $seed")
      assert(nativeDict === loop, s"nativeDict != loop at seed $seed")
      assert(iceberg1 === loop, s"iceberg(num) != loop at seed $seed")
      assert(iceberg2 === loop, s"iceberg(cat,num) != loop at seed $seed")
      assert(pruned === loop, s"pruned != loop at seed $seed")
      df.unpersist()
    }
  }

  test("iceberg pruning == loop on a genuinely high-card skewed id column") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    // "wide": one popular value (75 rows ≥ threshold 6), one borderline
    // (6 rows = threshold exactly), the rest ~unique (pruned); nulls too
    val rows = (0 until 300).map { i =>
      val wide =
        if (i < 75) "w_pop"
        else if (i < 81) "w_edge"
        else if (rnd.nextInt(12) == 0) null
        else s"w$i"
      (if (rnd.nextInt(10) == 0) null else s"c${rnd.nextInt(3)}",
        wide,
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong))
    }
    val df = rows.toDF("cat", "wide", "num")
      .withColumn("wval", when(col("wide").isNotNull, concat(lit("n_"), col("wide"))))
      .cache()
    val cfgW = InsightsConfig(
      groupingCols = Seq("cat", "wide", "num"),
      buckets = Map("num" -> 25L),
      idValues = Map("wide" -> Seq("wval")),
      thresholdPercent = 2.0)
    val n = df.count()
    val loop = InsightsEngine.enumerateLoop(df, cfgW, n, useFirst = false)
      .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
    val iceberg = InsightsEngine.insightsCubeIceberg(df, cfgW, n,
      highCard = Set("wide")).collect().map(_.getString(0)).toSet
    assert(iceberg === loop)
    // the popular AND exactly-at-threshold values must both survive
    // pruning (the bound is count ≥ threshold, same ≥ as the HAVING)
    assert(loop.exists(_.contains("n_w_pop")))
    assert(loop.exists(_.contains("n_w_edge")))
    val l1 = InsightsEngine.levelOne(df, cfgW)
    assert(l1.n === 300 && l1.threshold === 6)
    assert(l1.popular("wide").toMap === Map("w_pop" -> 75L, "w_edge" -> 6L))
    val pruned = InsightsEngine.insightsPruned(df, cfgW, l1)
      .collect().map(_.getString(0)).toSet
    assert(pruned === loop)
    df.unpersist()
  }

  test("two id-columns with multi-value display: all modes agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026L)
    val rows = Seq.fill(250)((
      if (rnd.nextInt(8) == 0) null else s"c${rnd.nextInt(4)}",
      if (rnd.nextInt(8) == 0) null else s"id${rnd.nextInt(3)}",
      if (rnd.nextInt(8) == 0) null else s"jd${rnd.nextInt(2)}",
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(1000).toLong)))
    val df = rows.toDF("cat", "idc", "jdc", "num")
      .withColumn("val", when(col("idc").isNotNull, concat(lit("v_"), col("idc"))))
      .withColumn("val2", when(col("idc").isNotNull, concat(lit("w_"), col("idc"))))
      .withColumn("jal", when(col("jdc").isNotNull, concat(lit("j_"), col("jdc"))))
      .cache()
    val cfg4 = InsightsConfig(
      groupingCols = Seq("cat", "idc", "jdc", "num"),
      buckets = Map("num" -> 50L),
      idValues = Map("idc" -> Seq("val", "val2"), "jdc" -> Seq("jal")),
      thresholdPercent = 2.0)
    val n = df.count()
    val loop = InsightsEngine.enumerateLoop(df, cfg4, n, useFirst = false)
      .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
    val cube = InsightsEngine.insightsCube(df, cfg4, n)
      .collect().map(_.getString(0)).toSet
    val dict = InsightsEngine.insightsCubeNativeDict(df, cfg4, n)
      .collect().map(_.getString(0)).toSet
    val pruned = InsightsEngine.insightsPruned(df, cfg4)
      .collect().map(_.getString(0)).toSet
    assert(cube === loop)
    assert(dict === loop)
    assert(pruned === loop)
    df.unpersist()
  }

  test("pruned body on degenerate inputs: N = 0, threshold < 1, unpopular columns") {
    import spark.implicits._
    def loopOf(df: org.apache.spark.sql.DataFrame, c: InsightsConfig) =
      InsightsEngine.enumerateLoop(df, c, df.count(), useFirst = false)
        .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
    def prunedOf(df: org.apache.spark.sql.DataFrame, c: InsightsConfig) =
      InsightsEngine.insightsPruned(df, c).collect().map(_.getString(0)).toSet
    val rnd = new scala.util.Random(5L)
    def frame(rows: Int) = (0 until rows).map(i => (
      s"c${rnd.nextInt(3)}", s"id$i",
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong)))
      .toDF("cat", "idc", "num")
      .withColumn("val", concat(lit("name_"), col("idc")))

    // N = 0: no () row in the level-1 output; nothing kept, no rows out
    val empty = frame(0)
    val l0 = InsightsEngine.levelOne(empty, cfg)
    assert(l0.n === 0 && l0.kept(cfg).isEmpty)
    assert(prunedOf(empty, cfg).isEmpty)

    // threshold < 1 (N = 40 at 2 %): every value is popular, nothing is
    // pruned and every column stays in the cube
    val small = frame(40)
    val ls = InsightsEngine.levelOne(small, cfg)
    assert(ls.threshold === 0 && !ls.pruning && ls.kept(cfg) === cfg.groupingCols)
    assert(prunedOf(small, cfg) === loopOf(small, cfg))

    // the unique id column has no popular value and leaves the cube
    val wide = frame(300)
    val lw = InsightsEngine.levelOne(wide, cfg)
    assert(lw.threshold === 6 && lw.popular("idc").isEmpty)
    assert(lw.kept(cfg) === Seq("cat", "num"))
    val loopW = loopOf(wide, cfg)
    assert(loopW.nonEmpty && !loopW.exists(_.contains("name_")))
    assert(prunedOf(wide, cfg) === loopW)

    // no column has a popular value: empty output, as the loop gives
    val cfgU = cfg.copy(groupingCols = Seq("idc"))
    assert(InsightsEngine.levelOne(wide, cfgU).kept(cfgU).isEmpty)
    assert(loopOf(wide, cfgU).isEmpty && prunedOf(wide, cfgU).isEmpty)
  }
}
