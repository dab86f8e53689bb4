package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** The codegen'd vector expressions must agree exactly with the
  * higher-order-function formulations they replace (same sequential
  * Long arithmetic), in both codegen and interpreted eval paths. */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  lazy val quantized = Tables.embeddings(spark, dir)
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").as("q"))

  test("LongArrayDot == zip_with+aggregate HOF form") {
    val both = quantized.select(col("vec_id"),
      VectorExpressions.dotLongs(col("q"), col("q")).as("native"),
      expr("aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        .as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    // and in the interpreted path (codegen disabled)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(both.filter(col("native") =!= col("hof")).count() === 0)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("UniversalMinHash == per-perm transform+array_min HOF form") {
    val P = 2147483647L
    val k = 8
    val hashed = Tables.documents(spark, dir).select(col("doc_id"),
      expr(s"transform(split(text, ' '), x -> pmod(xxhash64(x), ${P}L))").as("hs"))
    val native = hashed.select(col("doc_id"),
      VectorExpressions.universalMinhash(col("hs"), k, P).as("mh"))
    val hofCols = (0 until k).map { j =>
      val a = 1103515245L * (j + 1) % P
      val b = 12345L * (j + 7919) % P
      expr(s"array_min(transform(hs, h -> ($a * h + $b) % ${P}L))").as(s"mh_$j")
    }
    val hof = hashed.select(col("doc_id") +: hofCols: _*)
    val joined = native.join(hof, "doc_id")
    val mismatches = (0 until k).map(j =>
      joined.filter(col("mh").getItem(j) =!= col(s"mh_$j")).count()).sum
    assert(mismatches === 0)
  }

  test("WordShingles == array_distinct/transform/slice HOF pipeline") {
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
    val both = docs.select(col("doc_id"),
      VectorExpressions.wordShingles(col("text"), 3, distinct = true).as("native"),
      expr("""array_distinct(transform(
             |  sequence(0, size(split(text, ' ')) - 3),
             |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3))))""".stripMargin)
        .as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    // non-distinct bigrams too (the simhash feature stream)
    val bg = docs.select(
      VectorExpressions.wordShingles(col("text"), 2, distinct = false).as("native"),
      expr("""transform(sequence(0, size(split(text, ' ')) - 2),
             |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))""".stripMargin)
        .as("hof"))
    assert(bg.filter(col("native") =!= col("hof")).count() === 0)
    // edge semantics: too-short input -> empty array (not a throw);
    // consecutive/trailing spaces keep empty words like split(' ', -1)
    import spark.implicits._
    val edge = Seq("one", "a  b", "x y ").toDF("text")
      .select(VectorExpressions.wordShingles(col("text"), 2, distinct = false).as("s"))
      .collect()
    assert(edge(0).getSeq[String](0).isEmpty)
    assert(edge(1).getSeq[String](0) === Seq("a ", " b"))
    assert(edge(2).getSeq[String](0) === Seq("x y", "y "))
  }

  test("XxHashModArray == transform(pmod(xxhash64)) HOF form") {
    val P = 2147483647L
    val both = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .select(
        VectorExpressions.xxhashModArray(col("toks"), P).as("native"),
        expr(s"transform(toks, x -> pmod(xxhash64(x), ${P}L))").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("HashOrderKeys == HOF sort order, hot last, both eval paths") {
    // the expression's (is_hot, xxhash64 seed-42, value) order is
    // exactly the lexicographic struct order of (h, k, v), so default
    // array_sort is the reference; its first |S| − ceil(t·|S|) + 1 keys
    // are then the prefix the containment join's `pos` filter keeps
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        VectorExpressions.wordShingles(col("text"), 3, distinct = true)
          .as("shingles"))
      .filter(size(col("shingles")) > 0)
    // a hot set that actually intersects the corpus: the 5 most frequent
    // shingles, plus one absent value to prove non-members are ignored
    val hot = docs.select(explode(col("shingles")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("s")).limit(5)
      .agg(array_union(collect_list(col("s")),
        array(lit("\u0000absent"))).as("hot"))
    val hofKeys = expr("""transform(
             |  array_sort(transform(shingles, s -> struct(
             |    CASE WHEN array_contains(hot, s) THEN 1 ELSE 0 END AS h,
             |    xxhash64(s) AS k, s AS v))),
             |  x -> x.k)""".stripMargin)
    val both = docs.crossJoin(broadcast(hot)).select(col("doc_id"),
      VectorExpressions.hashOrderKeys(col("shingles"), col("hot")).as("keys"),
      hofKeys.as("full_hof"))
    assert(both.count() > 0)
    assert(both.filter(col("keys") =!= col("full_hof")).count() === 0)
    // interpreted path agrees too
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(both.filter(col("keys") =!= col("full_hof")).count() === 0)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // with every shingle hot the order falls back to hash within the
    // hot class, and every element is still keyed
    val allHot = docs.withColumn("hot", col("shingles")).select(
      VectorExpressions.hashOrderKeys(col("shingles"), col("hot")).as("keys"),
      hofKeys.as("full_hof"), size(col("shingles")).as("n"))
    assert(allHot.filter(col("keys") =!= col("full_hof") ||
      size(col("keys")) =!= col("n")).count() === 0)
  }

  test("HashOrderKeys: prefix slice == xxhash64 of HashOrderPrefix; full == HOF sort") {
    // HashOrderPrefix is the value prefix of the (h, k, v) sort: its
    // first n − ceil(t·n) + 1 shingles, here in its HOF form
    val t = 0.8
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        VectorExpressions.wordShingles(col("text"), 3, distinct = true)
          .as("shingles"))
      .filter(size(col("shingles")) > 0)
    val hot = docs.select(explode(col("shingles")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("s")).limit(5)
      .agg(collect_list(col("s")).as("hot"))
    val both = docs.crossJoin(broadcast(hot)).select(col("doc_id"),
      VectorExpressions.hashOrderKeys(col("shingles"), col("hot")).as("keys"),
      expr(s"""transform(slice(
             |  transform(
             |    array_sort(transform(shingles, s -> struct(
             |      CASE WHEN array_contains(hot, s) THEN 1 ELSE 0 END AS h,
             |      xxhash64(s) AS k, s AS v))),
             |    x -> x.v),
             |  1, CAST(size(shingles) - ceil(size(shingles) * $t) + 1 AS INT)),
             |  s -> xxhash64(s))""".stripMargin).as("prefix_hof"),
      expr("""transform(
             |  array_sort(transform(shingles, s -> struct(
             |    CASE WHEN array_contains(hot, s) THEN 1 ELSE 0 END AS h,
             |    xxhash64(s) AS k, s AS v))),
             |  x -> x.k)""".stripMargin).as("full_hof"))
    assert(both.count() > 0)
    // the full ordered key array is the HOF sort's key projection
    assert(both.filter(col("keys") =!= col("full_hof")).count() === 0)
    // and its first |S| − ceil(t·|S|) + 1 keys are the hashed prefix, so
    // pos < that bound over a posexplode of keys is exactly the prefix
    // relation the containment join uses
    val sliced = both.withColumn("k",
        (size(col("keys")) - ceil(size(col("keys")) * t) + 1).cast("int"))
      .filter(slice(col("keys"), lit(1), col("k")) =!= col("prefix_hof"))
    assert(sliced.count() === 0)
  }

  test("Digests refuses a nested lease of the same algorithm on one thread") {
    import VectorExpressions.Digests
    val outer = Digests.get("MD5")
    try {
      val e = intercept[IllegalStateException](Digests.get("MD5"))
      assert(e.getMessage.contains("nested Digests.get(MD5)"))
      // another algorithm is a different digest and may be held at once
      Digests.get("SHA-256").release()
    } finally outer.release()
    // once released, the next holder on this thread gets it, reset
    val again = Digests.get("MD5")
    try assert(again.md eq outer.md)
    finally again.release()
    // the kernels release in a finally: Md5HeadLong evaluated twice in a
    // row on this thread (interpreted path) leaves nothing lent
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc"))
    val head = VectorExpressions.Md5HeadLong(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = false), 8)
    assert(head.eval(row) === head.eval(row))
    Digests.get("MD5").release()
  }

  test("LongArrayIntersectCount == size(array_intersect) on distinct arrays") {
    // on DISTINCT-element arrays the multiset count equals the builtin
    // set intersection — the regime the dedup pre-verify runs in
    // (per-doc shingle sets are distinct by construction)
    val pairs = quantized.as("a").crossJoin(quantized.limit(5).as("b"))
      .select(array_distinct(col("a.q")).as("qa"),
        array_distinct(col("b.q")).as("qb"))
    val both = pairs.select(
      VectorExpressions.longIntersectCount(col("qa"), col("qb")).as("native"),
      size(array_intersect(col("qa"), col("qb"))).as("builtin"))
    assert(both.count() > 0)
    assert(both.filter(col("native") =!= col("builtin")).count() === 0)
    // multiset semantics on duplicates: Σ min(multiplicities), which is
    // what makes the count provably ≥ the exact pre-hash intersection
    // even under collisions (a set count would undercount there)
    import spark.implicits._
    val edge = Seq((Seq(1L, 1L, 2L, 3L), Seq(1L, 1L, 3L, 3L, 9L))).toDF("x", "y")
      .select(VectorExpressions.longIntersectCount(col("x"), col("y")).as("c"))
      .collect()
    assert(edge(0).getInt(0) === 3) // key 1: min(2,2)=2; key 3: min(1,2)=1
  }

  test("null inputs propagate as null") {
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS a, array(1L, 2L) AS b")
    val out = df.select(VectorExpressions.dotLongs(col("a"), col("b")).as("d")).collect()
    assert(out(0).isNullAt(0))
  }

  test("SQL registration: dot_longs and universal_minhash callable from spark.sql") {
    org.apache.spark.sql.graft.GraftFunctions.registerAll(spark)
    val d = spark.sql("SELECT dot_longs(array(1L,2L,3L), array(4L,5L,6L)) AS d")
      .collect()(0).getLong(0)
    assert(d === 32L)
    val mh = spark.sql(
      "SELECT universal_minhash(array(7L, 11L, 13L), 4, 2147483647L) AS mh")
      .collect()(0).getSeq[Long](0)
    assert(mh.length === 4)
    // matches the Column-API form
    import org.apache.spark.sql.functions._
    val viaCol = spark.range(1)
      .select(graft.functions.VectorExpressions.universalMinhash(
        expr("array(7L, 11L, 13L)"), 4, 2147483647L).as("mh"))
      .collect()(0).getSeq[Long](0)
    assert(mh === viaCol)
    // r2 expressions are SQL-registered too
    val sh = spark.sql("SELECT word_shingles('a b c d', 2, true) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("a b", "b c", "c d"))
    val sb = spark.sql(
      "SELECT sign_buckets(array(1L, -2L, 3L, -4L), 8, 4, 4) AS b")
      .collect()(0).getSeq[Long](0)
    assert(sb.length === 8 && sb.forall(b => b >= 0 && b < 16))
    val xh = spark.sql(
      "SELECT xxhash_mod_array(array('x', 'y'), 2147483647L) AS h")
      .collect()(0).getSeq[Long](0)
    val xhHof = spark.sql(
      "SELECT transform(array('x', 'y'), s -> pmod(xxhash64(s), 2147483647L)) AS h")
      .collect()(0).getSeq[Long](0)
    assert(xh === xhHof)
  }

  test("SQL surface: NULL array elements are handled, wrong types fail at analysis") {
    // a NULL element propagates as a NULL element (the HOF behavior),
    // not an NPE — these functions are user-callable via SQL
    val xh = spark.sql(
      "SELECT xxhash_mod_array(array('x', CAST(NULL AS STRING), 'y'), 97L) AS h")
      .collect()(0).getSeq[Any](0)
    assert(xh.length === 3 && xh(1) == null && xh(0) != null)
    // numeric expressions skip NULL elements instead of throwing
    val dot = spark.sql(
      "SELECT dot_longs(array(1L, NULL, 3L), array(2L, 5L, NULL)) AS d")
      .collect()(0).getLong(0)
    assert(dot === 2L) // only index 0 has both sides non-null
    val mh = spark.sql(
      "SELECT universal_minhash(array(7L, NULL), 4, 2147483647L) AS m")
      .collect()(0).getSeq[Long](0)
    val mhRef = spark.sql(
      "SELECT universal_minhash(array(7L), 4, 2147483647L) AS m")
      .collect()(0).getSeq[Long](0)
    assert(mh === mhRef)
    // wrong input type → descriptive analysis error, not ClassCastException
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT dot_longs(array('a'), array('b'))").collect()
    }
    assert(err.getMessage.contains("array<bigint>"))
  }

  test("SimhashVotes hardening: null elements skipped, bad hex fails loudly") {
    org.apache.spark.sql.graft.GraftFunctions.registerAll(spark)
    // a null element casts no vote — same signature as the array without it
    val withNull = spark.sql(
      "SELECT simhash_votes(array(md5('a'), CAST(NULL AS STRING), md5('b')), 64, false) AS s")
      .collect()(0).getSeq[Long](0)
    val without = spark.sql(
      "SELECT simhash_votes(array(md5('a'), md5('b')), 64, false) AS s")
      .collect()(0).getSeq[Long](0)
    assert(withNull === without)
    // hashInput=true path skips nulls too
    val hashedNull = spark.sql(
      "SELECT simhash_votes(array('a', CAST(NULL AS STRING), 'b'), 128, true) AS s")
      .collect()(0).getSeq[Long](0)
    val hashedRef = spark.sql(
      "SELECT simhash_votes(array('a', 'b'), 128, true) AS s")
      .collect()(0).getSeq[Long](0)
    assert(hashedNull === hashedRef && hashedNull.length === 2)
    // hashInput=false on a non-md5 element: descriptive error naming the value
    val short = intercept[Exception] {
      spark.sql("SELECT simhash_votes(array('abc'), 64, false)").collect()
    }
    assert(short.getMessage.contains("32-char") ||
      Option(short.getCause).exists(_.getMessage.contains("32-char")))
    val badChar = intercept[Exception] {
      spark.sql(
        "SELECT simhash_votes(array(upper(md5('a'))), 64, false)").collect()
    }
    val badMsg = badChar.getMessage +
      Option(badChar.getCause).map(_.getMessage).getOrElse("")
    assert(badMsg.contains("lowercase md5 hex"))
  }

  test("SQL registration: content_chunks and simhash_votes match Column API") {
    org.apache.spark.sql.graft.GraftFunctions.registerAll(spark)
    import spark.implicits._
    val blobs = Tables.documents(spark, dir).limit(20)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("bin"))
    blobs.createOrReplaceTempView("vx_blobs")
    val viaSql = spark.sql(
      "SELECT doc_id, content_chunks(bin) AS c FROM vx_blobs")
    val viaCol = blobs.select(col("doc_id"),
      VectorExpressions.contentChunks(col("bin")).as("c"))
    assert(viaSql.join(viaCol.withColumnRenamed("c", "c2"), "doc_id")
      .filter(col("c") =!= col("c2")).count() === 0)
    // simhash_votes SQL width mapping == Column-API word orders
    val feats = Tables.documents(spark, dir).limit(20)
      .select(col("doc_id"),
        VectorExpressions.wordShingles(col("text"), 2, distinct = false).as("f"))
      .filter(size(col("f")) > 0)
    feats.createOrReplaceTempView("vx_feats")
    for ((bits, order, algo) <- Seq((64, Seq(1, 0), "md5"),
        (128, Seq(0, 1, 2, 3), "md5"), (256, (0 until 8).toSeq, "sha256"),
        (512, (0 until 16).toSeq, "sha256x2"))) {
      val sql = spark.sql(
        s"SELECT doc_id, simhash_votes(f, $bits, true) AS s FROM vx_feats")
      val api = feats.select(col("doc_id"),
        VectorExpressions.simhashVotes(col("f"), order, hashInput = true,
          algo).as("s2"))
      assert(sql.join(api, "doc_id").filter(col("s") =!= col("s2")).count() === 0)
    }
  }

  test("GopherTextStats fused == exploded/HOF twin (fixture + adversarial)") {
    import spark.implicits._
    def assertSame(docs: org.apache.spark.sql.DataFrame): Unit = {
      val fused = graft.ops.TextAnalysis.gopherRulesFused(docs)
      val twin = Twins.textGopherRulesTwin(docs)
      assert(fused.exceptAll(twin).count() === 0)
      assert(twin.exceptAll(fused).count() === 0)
    }
    assertSame(Tables.documents(spark, dir))
    // adversarial: 2-gram count ties (binary-smallest gram wins), empty
    // tokens from doubled spaces, exact 5-gram repeats, short docs where
    // one or both gram legs are absent (twin's left-join null -> 0)
    val edge = Seq(
      1L -> "b a b a b",                       // "a b" vs "b a" both cnt 2
      2L -> "x  y  x  y",                      // empty tokens are tokens
      3L -> "a b c d e a b c d e a b c d e",   // dup 5-grams
      4L -> "onlyword",                        // no 2-grams, no 5-grams
      5L -> "two words",                       // 2-grams only
      6L -> "the a of and to in the a",        // all stopwords
      7L -> "Z9 ! Z9 ! Z9",                    // no lowercase alpha
      8L -> "!").toDF("doc_id", "text")        // 1 token, no grams at all
    assertSame(edge)
    // interpreted path too (codegen disabled)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assertSame(edge)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // SQL registration matches the Column API
    org.apache.spark.sql.graft.GraftFunctions.registerAll(spark)
    edge.createOrReplaceTempView("vx_gopher")
    val viaSql = spark.sql(
      "SELECT doc_id, gopher_text_stats(text, 'the,a,of,and,to,in') AS g FROM vx_gopher")
    val viaCol = edge.select(col("doc_id"), VectorExpressions.gopherTextStats(
      col("text"), Seq("the", "a", "of", "and", "to", "in")).as("g2"))
    assert(viaSql.join(viaCol, "doc_id").filter(col("g") =!= col("g2")).count() === 0)
  }

  test("Md5GramKeys == transform(md5(array_join(slice))) HOF chain") {
    for (k <- Seq(3, 10)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= k)
      // full 32-hex digests
      val hex = docs.select(col("doc_id"),
        VectorExpressions.md5GramKeys(col("w"), k, 32).as("native"),
        expr(s"""transform(sequence(0, size(w) - $k),
               |  i -> md5(array_join(slice(w, i + 1, $k), ' ')))""".stripMargin)
          .as("hof"))
      assert(hex.filter(col("native") =!= col("hof")).count() === 0)
      // head-N longs (winnow uses 10)
      val head = docs.select(col("doc_id"),
        VectorExpressions.md5GramKeys(col("w"), k, 10).as("native"),
        expr(s"""transform(sequence(0, size(w) - $k),
               |  i -> CAST(conv(substring(md5(array_join(slice(w, i + 1, $k), ' ')),
               |    1, 10), 16, 10) AS BIGINT))""".stripMargin).as("hof"))
      assert(head.filter(col("native") =!= col("hof")).count() === 0)
    }
    // edge semantics: fewer than k words -> empty array; empty words
    // (doubled/trailing spaces) hash as empty strings, same as the HOF
    import spark.implicits._
    val edge = Seq("a b", "x  y ", "one").toDF("text")
      .select(split(col("text"), " ").as("w"))
      .select(VectorExpressions.md5GramKeys(col("w"), 3, 32).as("native"),
        expr("""CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w) - 3),
               |  i -> md5(array_join(slice(w, i + 1, 3), ' ')))
               |  ELSE array() END""".stripMargin).as("hof"))
    assert(edge.filter(col("native") =!= col("hof")).count() === 0)
    // null elements (SQL-registered surface only — split() never yields
    // them): skipped exactly like array_join skips them in the HOF
    // chain, no separator emitted for the missing word (r17 advice: the
    // old code NPEd here while claiming HOF parity)
    val withNulls = Seq(
      (1L, Seq(Some("a"), None, Some("b"), Some("c"))),
      (2L, Seq(None, None, Some("x"))),
      (3L, Seq(Some("p"), Some("q"), None))).toDF("doc_id", "w")
      .select(col("doc_id"),
        VectorExpressions.md5GramKeys(col("w"), 3, 32).as("native"),
        expr("""transform(sequence(0, size(w) - 3),
               |  i -> md5(array_join(slice(w, i + 1, 3), ' ')))""".stripMargin)
          .as("hof"))
    assert(withNulls.filter(col("native") =!= col("hof")).count() === 0)
    assert(withNulls.count() === 3)
  }

  test("Md5HeadLong == conv(substring(md5)) builtin chain") {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
    for (nHex <- Seq(8, 15)) {
      val both = toks.select(
        VectorExpressions.md5HeadLong(col("t"), nHex).as("native"),
        expr(s"CAST(conv(substring(md5(t), 1, $nHex), 16, 10) AS BIGINT)")
          .as("builtin"))
      assert(both.filter(col("native") =!= col("builtin")).count() === 0)
      // interpreted path too
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try assert(both.filter(col("native") =!= col("builtin")).count() === 0)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // empty string and null propagate like the builtin chain
    import spark.implicits._
    val edge = Seq(Some(""), None, Some("x")).toDF("t")
      .select(VectorExpressions.md5HeadLong(col("t"), 8).as("native"),
        expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)").as("builtin"))
    assert(edge.filter(
      coalesce(col("native"), lit(-1L)) =!= coalesce(col("builtin"), lit(-1L)))
      .count() === 0)
  }
}
