package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  // plain-Scala winnowing (k=3, w=4, 40-bit md5-prefix hash): the
  // independent formulation the Spark single-long-key trick must equal
  private def winnowScala(text: String): Set[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(g: String): Long = java.lang.Long.parseLong(
      md.digest(g.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString, 16)
    val ws = text.split(" ", -1).toSeq
    if (ws.length < 3) return Set.empty
    val hashes = ws.sliding(3).map(_.mkString(" ")).map(h).toVector
    (3 until hashes.length).map { p =>
      val (mh, mi) = (p - 3 to p).map(i => (hashes(i), -i)).min
      (-mi.toLong, mh) // (pos, hash): min hash, rightmost (max i) on ties
    }.toSet
  }

  test("winnowing fingerprints equal an independent plain-Scala formulation") {
    val got = TextAnalysis.textWinnowFingerprints(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val want = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> winnowScala(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("winnowing guarantee: any shared run of >= w+k-1 tokens shares a fingerprint") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(5000)).mkString(" ")
    // 40 doc pairs, each sharing a planted run of exactly w+k-1=6 tokens
    val docs = (0 until 40).flatMap { i =>
      val shared = words(6)
      Seq((i * 2L, s"${words(10 + rnd.nextInt(20))} $shared ${words(10)}"),
        (i * 2L + 1, s"${words(15)} $shared ${words(5 + rnd.nextInt(10))}"))
    }
    val df = docs.toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFromDocs(df).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0 until 40).foreach { i =>
      val common = fps(i * 2L) intersect fps(i * 2L + 1)
      assert(common.nonEmpty, s"pair $i shares no fingerprint")
    }
  }

  test("Gopher rules equal a from-scratch recomputation and split the corpus") {
    val got = TextAnalysis.textGopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3),
        r.getBoolean(4), r.getBoolean(8), r.getBoolean(9), r.getBoolean(10))).toMap
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1).toSeq
      val (top2F, dup5F, wc, t2, d5, keep) = got(id)
      // top-2-gram char fraction
      val top2Chars: Long =
        if (toks.length < 2) 0L
        else {
          val counts = toks.sliding(2).map(_.mkString(" ")).toSeq
            .groupBy(identity).view.mapValues(_.size)
          val (g, c) = counts.toSeq.minBy { case (g0, c0) => (-c0, g0) }
          c.toLong * g.length
        }
      assert(math.abs(top2F - top2Chars / text.length.toDouble) < 1e-12, s"doc $id top2")
      // duplicate-5-gram char mass (non-first occurrences)
      val dup5Chars: Long =
        if (toks.length < 5) 0L
        else toks.sliding(5).map(_.mkString(" ")).toSeq
          .groupBy(identity).view.mapValues(_.size)
          .collect { case (g, c) if c >= 2 => (c - 1).toLong * g.length }
          .sum
      assert(math.abs(dup5F - dup5Chars / text.length.toDouble) < 1e-12, s"doc $id dup5")
      assert(wc === (toks.length >= 50 && toks.length <= 100000), s"doc $id wc")
      // verdicts via the SAME integer arithmetic the engine uses (no
      // double-boundary ambiguity at exactly 20% / 30%)
      assert(t2 === (top2Chars * 5 <= text.length), s"doc $id t2")
      assert(d5 === (dup5Chars * 10 <= text.length.toLong * 3), s"doc $id d5")
    }
    // the bundle discriminates on this corpus: both verdicts occur
    val keeps = got.values.map(_._6).toSeq
    assert(keeps.contains(true) && keeps.contains(false))
  }

  test("KS drift equals a from-scratch empirical-CDF recomputation") {
    val got = TextAnalysis.textKsDrift(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(4))).toMap
    val docs = Tables.documents(spark, dir).select("source", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    val values = docs.values.flatten.toSeq.distinct.sorted
    def cdf(xs: Seq[Long], v: Long) = xs.count(_ <= v).toDouble / xs.size
    val srcs = docs.keys.toSeq.sorted
    for (a <- srcs; b <- srcs if a < b) {
      val ks = values.map(v => math.abs(cdf(docs(a), v) - cdf(docs(b), v))).max
      assert(math.abs(got((a, b)) - ks) < 1e-12, s"($a,$b)")
    }
    assert(got.size === srcs.size * (srcs.size - 1) / 2)
  }

  test("tf-idf cosine pairs: ordered, bounded, deterministic") {
    val rows = TextAnalysis.textTfidfCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c) =>
      assert(a < b)
      // exact-integer dot/norms: cosine can exceed 1 only by float
      // division rounding, never by accumulation drift
      assert(c >= 0.5 && c <= 1.0 + 1e-12, s"($a,$b) cosine $c")
    }
    val again = TextAnalysis.textTfidfCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === again.toSeq)
  }

  test("frequency spectrum: partitions the corpus tokens; Good-Turing defined exactly at r+1 rows") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.textFreqSpectrum(spark, dir).collect()
    assert(rows.nonEmpty)
    // Σ r·N_r over the spectrum = total corpus tokens (the spectrum is a
    // partition of token occurrences by their type's frequency)
    val corpusTokens = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .count()
    assert(rows.map(_.getLong(2)).sum === corpusTokens)
    // r strictly increasing; gt_r_star present iff the next row is r+1
    val rs = rows.map(_.getLong(0))
    assert(rs.toSeq === rs.sorted.toSeq && rs.distinct.length === rs.length)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val defined = !a.isNullAt(3)
        assert(defined === (b.getLong(0) == a.getLong(0) + 1),
          s"gt at r=${a.getLong(0)} defined=$defined next=${b.getLong(0)}")
        if (defined) // r* = (r+1)·N_{r+1}/N_r
          assert(a.getDouble(3) ===
            (a.getLong(0) + 1).toDouble * b.getLong(1).toDouble / a.getLong(1).toDouble)
      case _ =>
    }
    assert(rows.last.isNullAt(3)) // no r+1 above the max frequency
  }

  test("tf-idf LSH pairs are a subset of the exact pairs with identical cosines") {
    val exact = ops.TextAnalysis.textTfidfCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = ops.TextAnalysis.textTfidfCosineLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(lsh.nonEmpty)
    // found ⊆ exact, and the verify recomputed the identical cosine
    lsh.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"LSH invented pair $pair")
      assert(exact(pair) === cos, s"cosine mismatch for $pair")
    }
    // the recall report is consistent with the two pair sets
    val rec = ops.TextAnalysis.textTfidfLshRecall(spark, dir).collect()(0)
    assert(rec.getLong(0) === exact.size.toLong)
    assert(rec.getLong(1) === lsh.length.toLong)
    assert(rec.getDouble(2) === lsh.length.toDouble / exact.size)
    assert(rec.getDouble(2) > 0.5) // 8 tables x 4 planes on the fixture
    // wider buckets (the scale-calibrated config) still verify exactly
    val wide = ops.TextAnalysis.textTfidfCosineLshAt(spark, dir, 16, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    wide.foreach { case (pair, cos) =>
      assert(exact.contains(pair) && exact(pair) === cos, s"16x12 pair $pair")
    }
  }

  test("SRP buckets: fused single-aggregate form == r16 explode-per-plane twin") {
    // the r17 rewrite collapsed the explode(planes) + two-stage aggregate
    // into one 32-buffer hash aggregate; a bucket-math drift there would
    // surface only as silent LSH recall degradation (candidates are
    // exact-verified downstream), so the (doc_id, tbl, bucket) rows are
    // pinned row-for-row against the r16 formulation — on the fixture
    // corpus AND on an adversarial frame with negative/zero/tied weights
    import spark.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val weighted = TextAnalysis.tfidfWeighted(spark, dir)
    assert(rowsOf(TextAnalysis.tfidfBuckets(weighted, 8, 4)) ===
      rowsOf(Twins.tfidfBucketsTwin(weighted, 8, 4)))
    val adv = Seq(
      (1L, "alpha", 5L), (1L, "beta", -5L), (1L, "gamma", 0L),
      (2L, "alpha", -7L), (2L, "delta", 7L),
      (3L, "epsilon", 1L)).toDF("doc_id", "term", "w")
    assert(rowsOf(TextAnalysis.tfidfBuckets(adv, 8, 4)) ===
      rowsOf(Twins.tfidfBucketsTwin(adv, 8, 4)))
    assert(rowsOf(TextAnalysis.tfidfBuckets(adv, 2, 12)) ===
      rowsOf(Twins.tfidfBucketsTwin(adv, 2, 12)))
  }

  test("tf-idf MinHash pairs reproduce the exact pair set bit-for-bit") {
    val exact = ops.TextAnalysis.textTfidfCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mh = ops.TextAnalysis.textTfidfCosineMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the promoted scale path (BASELINE.md r10 probe) is verified-subset
    // by construction; on the fixture it must be the FULL set — that
    // equality is what lets the exact SQL serve as its oracle
    assert(mh === exact)
  }

  test("BM25: contiguous ranks, monotone scores, doc_id tie order, k cap") {
    val rows = ops.TextAnalysis.textBm25TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.length <= 10)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length.toLong))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 === b._4 && a._3 < b._3),
            s"rank order violates (score DESC, doc_id ASC): $a then $b")
        case _ => ()
      }
    }
  }

  test("TVD drift: bounds, identity on a self-comparison slice, brute-force agreement") {
    import org.apache.spark.sql.functions._
    val rows = ops.TextAnalysis.textTvdDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // TVD is a metric on distributions: always within [0, 1]
    rows.foreach { case (src0, ns, nr, tvd) =>
      assert(tvd >= 0.0 && tvd <= 1.0, s"$src0 tvd=$tvd")
      assert(ns > 0 && nr > 0)
    }
    // brute force one source end-to-end over the FULL union vocabulary
    // (the query uses the folded absent-token closed form — must agree)
    val (srcName, _, _, got) = rows.head
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val inS = toks.filter(_._1 == srcName).map(_._2)
    val inR = toks.filter(_._1 != srcName).map(_._2)
    val cS = inS.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cR = inR.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (ns, nr) = (inS.length.toLong, inR.length.toLong)
    val num = (cS.keySet ++ cR.keySet).toSeq.map(t =>
      math.abs(cS.getOrElse(t, 0L) * nr - cR.getOrElse(t, 0L) * ns)).sum
    assert(got === num.toDouble / (2.0 * ns * nr), s"$srcName brute-force TVD")
  }

  test("vocab growth: cumulatives monotone, totals close over the corpus") {
    val rows = ops.TextAnalysis.textVocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    val tok = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
    val (totTok, totTypes) = (tok.count(), tok.distinct().count())
    // last cumulative row covers the whole corpus exactly
    assert(rows.last._5 === totTok && rows.last._6 === totTypes)
    // cum columns are running sums of the per-bucket columns, so they
    // are monotone and each bucket's new types can't exceed its tokens
    rows.foreach { case (_, nDocs, nTok, nNew, _, _) =>
      assert(nNew <= nTok && nDocs >= 1)
    }
    assert(rows.map(_._3).sum === totTok)
    assert(rows.map(_._4).sum === totTypes)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._1 > a._1 && b._5 === a._5 + b._3 && b._6 === a._6 + b._4)
      case _ =>
    }
  }

  test("tf-idf cosine inverted index carries salient terms only (df-cap)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val maxDf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 10 <= n)
      .agg(max(col("df"))).collect()(0).getLong(0)
    assert(maxDf * 10 <= n) // the join's hot-key bound, by construction
  }

  test("winnowing fails loudly on a doc whose positions would overflow the packed key") {
    import spark.implicits._
    // 2^20 + 3 single-char tokens → max gram pos = 2^20, one past the
    // packing space: the guard must throw, not corrupt fingerprints
    val big = Array.fill((1 << 20) + 3)("a").mkString(" ")
    val df = Seq((1L, big)).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      TextAnalysis.winnowFromDocs(df).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("winnow")), s"unexpected error: $ex")
    // and a doc just UNDER the bound still fingerprints fine
    val okDf = Seq((2L, Array.fill(64)("b").mkString(" "))).toDF("doc_id", "text")
    assert(TextAnalysis.winnowFromDocs(okDf).count() > 0)
  }

  test("guard-routed tf-idf pairs: exact route when the guard passes, LSH under drift") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = GraftSession.tempDir("graft_route")
    def write(sub: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/$sub/documents.parquet")
      s"$tmp/$sub"
    }
    // passing null: disjoint per-doc vocabularies → every term df = 1,
    // join volume = 3000 ≤ 100·n_docs = 10000
    val okDir = write("ok", (0L until 100L).map(i =>
      i -> (0 until 30).map(j => s"u${i}_$j").mkString(" ")))
    // firing null: 10 blocks × 10 docs sharing a 30-term block
    // vocabulary → df = 10 (salient: 10·10 ≤ 100), join volume =
    // 300 terms · 10² = 30000 > 10000 — the drift shape where
    // locally-common terms pass the corpus-relative cap
    val fireDir = write("fire", (0L until 100L).map(i =>
      i -> (0 until 30).map(j => s"b${i / 10}_$j").mkString(" ")))
    assert(TextAnalysis.tfidfRouteIsExact(spark, okDir),
      "guard must pass on the disjoint-vocabulary corpus")
    assert(!TextAnalysis.tfidfRouteIsExact(spark, fireDir),
      "guard must fire on the drift corpus")
    assert(TextAnalysis.tfidfRouteIsExact(spark, dir),
      "the fixture must take the exact route (its oracle pins that route)")
    // on the fixture the routed query IS the exact posting join
    val routed = TextAnalysis.textTfidfPairsRouted(spark, dir).collect().toSeq
    val exact = TextAnalysis.textTfidfCosine(spark, dir).collect().toSeq
    assert(routed === exact)
    assert(routed.nonEmpty)
  }
}
