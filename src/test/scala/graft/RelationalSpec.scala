package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Coverage for built-ins whose engine-specific output has no DuckDB
  * oracle (HLL sketch, from_json) plus cross-cutting sanity. */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("join-volume guard predicts the EXECUTED join cardinalities exactly") {
    val got = graft.ops.RelationalExt.joinVolumeGuard(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getBoolean(6))).toMap
    // the guard's whole claim: out_rows equals what the join would emit
    val ol = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey").as("k")), "k")
      .count()
    val ev = Tables.events(spark, dir).select(col("user_id").as("k"))
    val ee = ev.as("a").join(ev.as("b"), "k").count()
    assert(got("orders_lineitem_orderkey")._1 === ol)
    assert(got("events_self_userid")._1 === ee)
    // and the routing decision: FK joins admitted, the self-join flagged
    assert(got("orders_lineitem_orderkey")._2 === true)
    assert(got("lineitem_part_partkey")._2 === true)
    assert(got("events_self_userid")._2 === false)
  }

  test("weighted median equals a from-scratch expanded-multiset median") {
    val got = graft.ops.RelationalExt.aggWeightedMedianLineitem(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        Tables.cents(col("l_extendedprice")).as("v"),
        col("l_quantity").cast("long").as("wt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      // the definition, literally: expand each value wt times, sort,
      // take the lower-median element
      val expanded = rs.flatMap(t => Seq.fill(t._3.toInt)(t._2)).sorted
      val want = expanded((expanded.length - 1) / 2)
      assert(got(flag)._1 === rs.map(_._3).sum, s"flag $flag total")
      assert(got(flag)._2 === want, s"flag $flag median")
    }
  }

  test("weighted median: raw RANGE-frame shape == histogram twin (ties included)") {
    // the r18 declared shape is the HISTOGRAM ((flag, v) pre-aggregate
    // below the window — scale-safe when the flag has ~3 values); RANGE
    // framing makes the raw shape's cw group-complete at every tied row,
    // so the two formulations must agree even on heavily duplicated values
    import spark.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val fixture = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), Tables.cents(col("l_extendedprice")).as("v"),
        col("l_quantity").cast("long").as("wt"))
    assert(rowsOf(Twins.weightedMedianRaw(fixture)) ===
      rowsOf(graft.ops.RelationalExt.weightedMedianHistogram(fixture)))
    // duplicated-v corpus: every value appears many times, median lands
    // mid-tie; also a single-row group and an even/odd mass split
    val dup = Seq(
      ("A", 10L, 3L), ("A", 10L, 2L), ("A", 20L, 4L), ("A", 20L, 1L),
      ("A", 30L, 10L), ("B", 5L, 1L), ("C", 7L, 2L), ("C", 7L, 2L))
      .toDF("l_returnflag", "v", "wt")
    assert(rowsOf(Twins.weightedMedianRaw(dup)) ===
      rowsOf(graft.ops.RelationalExt.weightedMedianHistogram(dup)))
  }

  test("approx_count_distinct (HLL++) lands within 5% of exact") {
    val row = Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey")).as("approx"))
      .collect()(0)
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_top_k is exact when cardinality is below sketch capacity") {
    // 5 event types << the k=20 sketch's internal capacity, so the
    // emitted estimates must EQUAL the exact counts for the FULL type
    // set (the sketch only approximates past capacity; no top-N cut on
    // either side, so no tie boundary exists) — pinning the declared
    // value-level query's regeneration-proof shape
    val approx = graft.ops.RelationalExt.aggApproxTopkEvents(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(approx.toSeq === exact.toSeq)
    assert(approx.length === approx.map(_._1).distinct.length)
  }

  test("from_json parses event props into a typed struct") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val parsed = Tables.events(spark, dir)
      .withColumn("p", from_json(col("props"), schema))
      .select(col("event_id"), col("p.k").as("k"))
    assert(parsed.filter(col("k").isNull).count() === 0)
    // agrees with the regexp-based declared query's per-type sums
    val viaJson = parsed.agg(sum("k")).collect()(0).getLong(0)
    val viaRegexp = graft.ops.Relational.jsonPropsEvents(spark, dir)
      .agg(sum("sum_k")).collect()(0).getLong(0)
    assert(viaJson === viaRegexp)
  }

  test("every declared query returns rows at sf0.001 except known-empty ones", Slow) {
    val mayBeEmpty = Set("join_anti_customers", "dedup_simhash",
      "dedup_ngram_jaccard", "dedup_minhash_lsh",
      "dedup_clusters", // empty iff the near-dup pair set is empty
      "q11_important_parts", // NATION_7 has no suppliers at sf0.001
      "text_decontaminate", // probe 3-grams may miss all 50 sf0.001 docs
      "graph_pagerank_docs", // empty iff the near-dup pair set is empty
      // hamming <= 12 over 512 bits is the ladder's tightest similarity
      // scale: the fixtures' near-dups clear it only from sf0.1 up
      // (12 pairs there, oracle-matched); DedupSpec plants a verbatim
      // copy to pin the hamming-0 recall floor at small scale
      "dedup_simhash512")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0 || mayBeEmpty.contains(name), s"$name returned 0 rows")
    }
  }

  test("entry() (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("stratified sample: seed-deterministic, every stratum verdict true") {
    val r1 = graft.ops.TextAnalysis.textSampleStratified(spark, dir).collect()
    val r2 = graft.ops.TextAnalysis.textSampleStratified(spark, dir).collect()
    assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq) // same seed
    assert(r1.nonEmpty)
    r1.foreach(r =>
      assert(r.getBoolean(2), s"${r.getString(0)}: fraction out of tolerance"))
  }

  test("map functions: construction, lookup, keys, concat, value transform") {
    val r = spark.sql(
      """SELECT m['b'] AS b_val,
        |       array_sort(map_keys(m)) AS ks,
        |       map_concat(m, map('c', 30))['c'] AS c_val,
        |       transform_values(m, (k, v) -> v * 10)['a'] AS a10
        |FROM (SELECT map_from_arrays(array('a', 'b'), array(1, 2)) AS m)""".stripMargin)
      .collect()(0)
    assert(r.getInt(0) === 2)
    assert(r.getSeq[String](1) === Seq("a", "b"))
    assert(r.getInt(2) === 30)
    assert(r.getInt(3) === 10)
  }

  test("hash-based stratified sample: deterministic and near target fractions") {
    import org.apache.spark.sql.functions._
    val s1 = graft.ops.TextAnalysis.textSampleHash(spark, dir).collect()
    val s2 = graft.ops.TextAnalysis.textSampleHash(spark, dir).collect()
    assert(s1.map(_.getLong(0)).sameElements(s2.map(_.getLong(0)))) // re-run == same sample
    val n_en = Tables.documents(spark, dir).filter(col("lang") === "en").count()
    val got_en = s1.count(_.getString(1) == "en")
    assert(math.abs(got_en - 0.5 * n_en) <= 0.2 * n_en + 5)
  }

  test("approx_count_distinct lands within HLL error of the exact count") {
    import org.apache.spark.sql.functions._
    val row = Tables.orders(spark, dir).agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey")).as("approx")).collect()(0)
    val exact = row.getLong(0).toDouble
    assert(math.abs(row.getLong(1) - exact) / exact < 0.1)
  }

  test("approx_percentile lands within the exact percentile neighborhood") {
    import org.apache.spark.sql.functions._
    val row = Tables.orders(spark, dir).agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx")).collect()(0)
    val exact = row.getDouble(0)
    val approx = row.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("scd2 history: versions chain gaplessly with one open row per customer") {
    val rows = graft.ops.RelationalExt.scd2CustomerHistory(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cust, vs) =>
      val sorted = vs.sortBy(v => (v._4, v._2)) // (valid_from, change id)
      // exactly one open-ended current version, and it is the last one
      assert(sorted.count(_._5.isEmpty) === 1)
      assert(sorted.last._5.isEmpty && sorted.last._6 === 1L)
      sorted.init.foreach(v => assert(v._6 === 0L))
      // each version closes exactly where the next one opens
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._5.contains(b._4), s"customer $cust gap at ${a._4}")
        // states always flip between consecutive change points: each
        // kept row differs from its predecessor ORDER, whose state is
        // by construction the previous change point's state
        assert(a._3 != b._3)
      }
    }
  }

  test("theta audience: sketch estimates exact below capacity; set algebra closes") {
    val r = ops.RelationalExt.aggThetaAudience(spark, dir).collect().head
    val (nA, nB, nInter, nDiff) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nInter <= math.min(nA, nB))
    assert(nDiff === nA - nInter)
    // fixture cardinalities sit far below the sketch's nominal entries,
    // so every estimate is exact and every verdict must hold
    (4 to 7).foreach(i => assert(r.getBoolean(i), s"verdict $i"))
    // recompute the exact overlap independently
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select("event_type", "user_id").distinct().collect()
      .map(row => (row.getString(0), row.getLong(1)))
    val clicks = e.filter(_._1 == "click").map(_._2).toSet
    val views = e.filter(_._1 == "view").map(_._2).toSet
    assert(nA === clicks.size.toLong && nB === views.size.toLong)
    assert(nInter === (clicks & views).size.toLong)
  }

  test("SCD2 point-in-time join: every order matches exactly one version") {
    val rows = ops.RelationalExt.scd2PitJoin(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nOrders = Tables.orders(spark, dir).count()
    // intervals tile each customer's timeline, so the per-state order
    // counts must partition the fact table — any gap or overlap in the
    // version intervals would break this sum
    assert(rows.map(_._2).sum === nOrders)
    rows.foreach { case (state, n, nc) =>
      assert(state.nonEmpty && n > 0 && nc > 0 && nc <= n)
    }
  }

  test("RFM segments partition the customer base; averages recompute exactly") {
    val rows = ops.RelationalExt.aggRfmSegments(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val nCustomers = Tables.orders(spark, dir)
      .select("o_custkey").distinct().count()
    assert(rows.map(_._4).sum === nCustomers, "segments must partition customers")
    assert(rows.map(t => (t._1, t._2, t._3)).distinct.length === rows.length)
    rows.foreach { case (r, f, m, n, cents, avg) =>
      assert(Set("recent", "stale")(r) && Set("frequent", "rare")(f) &&
        Set("big", "small")(m))
      assert(n > 0)
      assert(avg === cents.toDouble / n.toDouble)
    }
  }

  test("histogram quantiles: exact percentile inside every picked bucket, cumulative sanity") {
    val rows = ops.RelationalExt.aggHistogramQuantiles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.map(_._1).toSeq === Seq(50L, 90L, 99L))
    val n = rows.head._5
    rows.foreach { case (q, lo, hi, cum, nTotal, within) =>
      assert(within, s"p$q exact percentile escaped its bucket")
      assert(hi === lo + 999999L)
      assert(nTotal === n)
      // picked bucket is the FIRST crossing: cum clears the threshold
      assert(cum * 100 >= q * nTotal)
      assert(cum <= nTotal)
    }
    // monotone: higher quantile never picks a lower bucket
    assert(rows.sortBy(_._1).map(_._2).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("exact-integer Pearson corr matches Spark's double-accumulated corr to 1e-9") {
    val row = ops.RelationalExt.aggCorrLineitem(spark, dir).collect()(0)
    val r = row.getDouble(3)
    assert(r >= -1.0 && r <= 1.0)
    // the built-in accumulates doubles (non-deterministic order, hence
    // not oracle-safe) but must agree to ~1e-9 with the exact-moment form
    val builtin = Tables.lineitem(spark, dir)
      .select(corr(col("l_quantity").cast("double"),
        Tables.cents(col("l_extendedprice")).cast("double")).as("c"))
      .collect()(0).getDouble(0)
    assert(math.abs(r - builtin) < 1e-9, s"exact=$r builtin=$builtin")
  }
}
