package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.insights.{InsightsEngine, PlayStore}

/** Golden tests pinning the reference pipeline's output semantics
  * (SURVEY.md §2.4, verified against the reference's own functions;
  * expected strings from FIXTURES.md §3).
  */
class PlayStoreGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val fixtureCsv: String =
    """_c0,appId,developer,developerId,developerWebsite,free,genre,genreId,minInstalls,offersIAP,originalPrice,price,ratings,len screenshots,adSupported,containsAds,reviews,score,releasedYear
      |0,a.b.c,DevA,dev1,http://a.com,True,Action,ACTION,1500000,False,0,0,50,7,True,True,2500000,4,2019
      |1,d.e.f,DevA,dev1,http://a.com,True,Action,ACTION,2500000,False,0,0,60,8,True,True,1500000,4,2019
      |2,g.h.i,DevB,dev2,http://b.com,True,Action,ACTION,500000,False,0,0,70,3,True,True,500000,5,2021
      |3,j.k.l,DevB,dev2,http://b.com,False,Puzzle,PUZZLE,500000,True,100,50,80,3,False,False,500000,3,2021
      |4,m.n.o,DevC,dev3,,True,Puzzle,PUZZLE,999,False,0,0,90,12,False,False,100,4,2016
      |""".stripMargin

  lazy val csvPath: String = {
    val dir = java.nio.file.Paths.get(GraftSession.tempDir("graft_golden"))
    val f = dir.resolve("apps.csv")
    Files.writeString(f, fixtureCsv)
    f.toString
  }

  lazy val prepared = PlayStore.prepare(PlayStore.readCsv(spark, csvPath)).cache()

  def loopSubset(subset: Seq[String]): Set[String] =
    InsightsEngine
      .insightsForSubset(prepared, PlayStore.cfg, subset, thresholdCount = 0)
      .collect().map(_.getString(0)).toSet

  test("subset (genreId): id col groups, value col displays, bare count") {
    assert(loopSubset(Seq("genreId")) === Set("genre=Action;3", "genre=Puzzle;2"))
  }

  test("subset (developerId, free): lowercase booleans, null website skipped") {
    assert(loopSubset(Seq("developerId", "free")) === Set(
      "free=true;developer=DevA;developerWebsite=http://a.com;2",
      "free=false;developer=DevB;developerWebsite=http://b.com;1",
      "free=true;developer=DevB;developerWebsite=http://b.com;1",
      "free=true;developer=DevC;1"))
  }

  test("subset (minInstalls, score): bucket labels [lo-(lo+width)]") {
    val got = loopSubset(Seq("minInstalls", "score"))
    assert(got.contains("minInstalls=[1000000-2000000];score=[4-5];1"))
    assert(got.contains("minInstalls=[0-1000000];score=[3-4];1"))
    assert(got.contains("minInstalls=[2000000-3000000];score=[4-5];1"))
    assert(got === Set(
      "minInstalls=[1000000-2000000];score=[4-5];1",
      "minInstalls=[2000000-3000000];score=[4-5];1",
      "minInstalls=[0-1000000];score=[5-6];1",
      "minInstalls=[0-1000000];score=[3-4];1",
      "minInstalls=[0-1000000];score=[4-5];1"))
  }

  test("cube mode over all 14 cols reproduces the per-subset golden strings", Slow) {
    val cube = InsightsEngine
      .insightsCube(prepared, PlayStore.cfg, totalCount = 5, useFirst = true)
      .collect().map(_.getString(0)).toSet
    val expected = loopSubset(Seq("genreId")) ++
      loopSubset(Seq("developerId", "free")) ++
      loopSubset(Seq("minInstalls", "score"))
    assert(expected.subsetOf(cube))
    // 14 cols on 5 distinct rows: every subset yields between 1 and 5 groups
    assert(cube.size >= 16383 && cube.size <= 5 * 16383)
    // the native-key variant must reproduce the identical 16k+ string set
    val native = InsightsEngine
      .insightsCubeNative(prepared, PlayStore.cfg, totalCount = 5, useFirst = true)
      .collect().map(_.getString(0)).toSet
    assert(native === cube)
  }

  test("cube mode == loop mode on a 4-column universe", Slow) {
    val cfg4 = PlayStore.cfg.copy(groupingCols =
      Seq("developerId", "free", "genreId", "minInstalls"))
    val loop = InsightsEngine
      .enumerateLoop(prepared, cfg4, totalCount = 5, useFirst = true)
      .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
    val cube = InsightsEngine
      .insightsCube(prepared, cfg4, totalCount = 5, useFirst = true)
      .collect().map(_.getString(0)).toSet
    assert(loop === cube)
  }

  test("cleaning: range filters drop out-of-range rows; float score truncates") {
    val extra = fixtureCsv +
      "5,x.y.z,DevD,dev4,,True,Card,CARD,10,False,0,0,200,1,False,False,10,4.7,2020\n" +
      "6,q.r.s,DevE,dev5,,True,Card,CARD,10,False,0,0,10,1,False,False,10,4.7,1950\n"
    val dir = java.nio.file.Paths.get(GraftSession.tempDir("graft_clean"))
    Files.writeString(dir.resolve("apps.csv"), extra)
    val cleaned = PlayStore.clean(PlayStore.readCsv(spark, dir.toString + "/apps.csv"))
    // row 5: ratings=200 out of [0,100]; row 6: releasedYear 1950 < 1971
    assert(cleaned.count() === 5)
    // float scores truncate to int under the cast (reference README.md:22)
    val scores = cleaned.select("score").collect().map(_.getInt(0)).toSet
    assert(scores === Set(3, 4, 5))
  }

  test("threshold: floor(2% of N), compare with >=") {
    // N=5 -> floor(0.1)=0 -> all groups pass (asserted implicitly above);
    // N=150 -> 3: groups of exactly 3 survive, 2 do not.
    val big = spark.range(150).selectExpr(
      "case when id < 3 then 'G3' when id < 5 then 'G2' else concat('U', id) end as genreId",
      "'x' as genre")
    val cfg = insights.InsightsConfig(Seq("genreId"),
      idValues = Map("genreId" -> Seq("genre")))
    val out = InsightsEngine
      .insightsForSubset(big, cfg, Seq("genreId"),
        thresholdCount = math.floor(0.02 * 150).toLong)
      .collect().map(_.getString(0)).toSet
    assert(out === Set("genre=x;3"))
  }

  test("extractCompat end-to-end: two-phase CSV output with the reference's Insights header") {
    val out = GraftSession.tempDir("graft_compat") + "/insights"
    val cfg2 = PlayStore.cfg.copy(groupingCols = Seq("genreId", "free"))
    PlayStore.extractCompat(spark, csvPath, out, config = cfg2)
    // final compacted file: header line "Insights" (reference writes
    // header=True and names the concat column Insights, main.py:312,358)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    val lines = files.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toSeq).toSeq
    assert(lines.contains("Insights"))
    val rows = lines.filterNot(_ == "Insights").toSet
    // 3 subsets of {genreId, free}: genre-only, free-only, both
    assert(rows.contains("genre=Action;3") && rows.contains("free=true;4"))
    assert(rows.exists(_.startsWith("free=true;genre=")))
    // the intermediate partitioned dir also carries headers (O20 re-read
    // uses header=true like main.py:393)
    val partFiles = new java.io.File(out + "_partitioned").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(partFiles.forall(f =>
      scala.io.Source.fromFile(f).getLines().next() == "Insights"))
  }

  test("extractScale end-to-end: explicit-schema read, cube output matches compat rows") {
    val out = GraftSession.tempDir("graft_scale") + "/insights"
    val cfg2 = PlayStore.cfg.copy(groupingCols = Seq("genreId", "free"))
    PlayStore.extractScale(spark, csvPath, out, config = cfg2)
    val rows = spark.read.option("header", false).csv(out)
      .collect().map(_.getString(0)).toSet
    assert(rows.contains("genre=Action;3") && rows.contains("free=true;4"))
    // schema-read pipeline == inference-read pipeline on the fixture
    val viaSchema = PlayStore.prepare(
      PlayStore.readCsv(spark, csvPath, schema = Some(PlayStore.schema)))
    val viaInfer = PlayStore.prepare(PlayStore.readCsv(spark, csvPath))
    assert(viaSchema.select("genreId", "free", "minInstalls", "score").collect().toSet
      === viaInfer.select("genreId", "free", "minInstalls", "score").collect().toSet)
  }

  test("cube min aggregates the NATIVE value type (no lexicographic '10'<'9' trap)") {
    // value col is numeric with {9, 10} inside one group: numeric min = 9,
    // but a pre-aggregation string cast would make min("10","9") = "10".
    // Cube must agree with loop mode (which always aggregated natively).
    val df = spark.range(8).selectExpr(
      "concat('g', cast(id % 2 as string)) as cat",
      "cast(case when id < 4 then 9 else 10 end as long) as v")
    val cfg = insights.InsightsConfig(Seq("cat"),
      idValues = Map("cat" -> Seq("v")))
    val loop = InsightsEngine
      .enumerateLoop(df, cfg, totalCount = 8, useFirst = false)
      .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
    val cube = InsightsEngine
      .insightsCube(df, cfg, totalCount = 8, useFirst = false)
      .collect().map(_.getString(0)).toSet
    assert(cube === loop)
    assert(cube === Set("v=9;4")) // both groups contain a 9 → numeric min
  }

  test("dictionary-join cube mode == standard cube mode (functional id->value)") {
    val cfg4 = PlayStore.cfg.copy(groupingCols =
      Seq("developerId", "free", "genreId", "minInstalls"))
    val std = InsightsEngine
      .insightsCube(prepared, cfg4, totalCount = 5, useFirst = false)
      .collect().map(_.getString(0)).toSet
    // count-only native-key cube + broadcast dictionary re-attach (the
    // cube the pruned scale-mode body runs) must produce the same strings
    val nativeDict = InsightsEngine
      .insightsCubeNativeDict(prepared, cfg4, totalCount = 5)
      .collect().map(_.getString(0)).toSet
    assert(nativeDict === std)
  }

  test("native-dict cube reproduces the full 14-col powerset string set", Slow) {
    val cube = InsightsEngine
      .insightsCube(prepared, PlayStore.cfg, totalCount = 5, useFirst = false)
      .collect().map(_.getString(0)).toSet
    val nativeDict = InsightsEngine
      .insightsCubeNativeDict(prepared, PlayStore.cfg, totalCount = 5)
      .collect().map(_.getString(0)).toSet
    assert(nativeDict === cube)
  }

  test("hybrid cube+loop enumeration == full cube (high-card split)") {
    val cfg4 = PlayStore.cfg.copy(groupingCols =
      Seq("developerId", "free", "genreId", "minInstalls"))
    val full = InsightsEngine
      .insightsCube(prepared, cfg4, totalCount = 5, useFirst = false)
      .collect().map(_.getString(0)).toSet
    val hybrid = InsightsEngine
      .insightsHybrid(prepared, cfg4, totalCount = 5,
        highCard = Set("developerId", "minInstalls"))
      .collect().map(_.getString(0)).toSet
    assert(hybrid === full)
    // dict-routed hybrid (the ≥2-high-card scale-mode path): same strings
    val hybridDict = InsightsEngine
      .insightsHybrid(prepared, cfg4, totalCount = 5,
        highCard = Set("developerId", "minInstalls"), dictValues = true)
      .collect().map(_.getString(0)).toSet
    assert(hybridDict === full)
    // all-high-card edge: pure loop mode, still equals the full cube
    val allLoop = InsightsEngine
      .insightsHybrid(prepared, cfg4, totalCount = 5,
        highCard = cfg4.groupingCols.toSet)
      .collect().map(_.getString(0)).toSet
    assert(allLoop === full)
  }

  test("extractScale: N = 0 after the range filters writes an empty output") {
    // every row fails `ratings` ∈ [0, 100]: the level-1 pass sees no rows
    // and so no () row; the job must still write a (row-less) result
    val dir = java.nio.file.Paths.get(GraftSession.tempDir("graft_empty"))
    val lines = fixtureCsv.linesIterator.toSeq
    val allOut = (lines.head +: lines.tail.map(
      _.split(",", -1).updated(12, "500").mkString(","))).mkString("\n") + "\n"
    Files.writeString(dir.resolve("apps.csv"), allOut)
    val out = dir.toString + "/insights"
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout) {
      PlayStore.extractScale(spark, dir.toString + "/apps.csv", out)
    }
    assert(stdout.toString.contains("INSIGHTS route=empty n=0 threshold=0 kept= "))
    assert(new java.io.File(out, "_SUCCESS").exists())
    assert(spark.read.schema("insight string").csv(out).count() === 0)
  }
}
