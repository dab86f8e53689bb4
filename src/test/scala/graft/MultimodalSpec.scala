package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("clip pairs: one row per doc, negative never the anchor, draw is the documented hash") {
    val n = Tables.documents(spark, dir).count()
    val rows = Multimodal.mediaClipPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getString(5)))
    assert(rows.length === n) // exactly one pair row per media row
    rows.foreach { case (id, mt, nBytes, cap, negId, negCap) =>
      assert(negId !== id, s"doc $id drew itself as negative")
      assert(negId >= 0 && negId < n)
      // deterministic Knuth-hash draw, self-collision bumped by one
      val raw = (id * 2654435761L) % n
      assert(negId === (if (raw == id) (raw + 1) % n else raw), s"doc $id draw")
      assert(Set("image", "audio", "video").contains(mt))
      assert(nBytes > 0 && cap.nonEmpty && negCap.nonEmpty)
    }
    // positive captions really are the doc's own first-8-token prefix
    val texts = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, _, _, cap, negId, negCap) =>
      assert(cap === texts(id).split(" ").take(8).mkString(" "))
      assert(negCap === texts(negId).split(" ").take(8).mkString(" "))
    }
  }

  test("pHash dedup: byte-identical media pair at hamming 0; hamming bounded; no self/dup pairs") {
    val pairs = Multimodal.mediaPhashDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.foreach { case (a, b, h) =>
      assert(a < b, s"unordered pair ($a,$b)")
      assert(h >= 0 && h <= 12, s"hamming $h out of the declared band")
    }
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length)
    // identical text ⇒ identical synthesized bytes ⇒ identical chunk
    // features ⇒ identical signature: every exact-duplicate doc pair
    // MUST surface at hamming 0 (recall floor of the banded join)
    val byText = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).values.map(_.map(_._2).sorted).filter(_.length > 1)
    val got = pairs.map(p => (p._1, p._2) -> p._3).toMap
    byText.foreach { ids =>
      for (a <- ids; b <- ids if a < b) {
        assert(got.get((a, b)).contains(0L),
          s"exact-duplicate media pair ($a,$b) missing or hamming != 0")
      }
    }
  }

  test("128-bit pHash over CDC features: bounds hold, exact dups at hamming 0, true near-dups captured") {
    val pairs = Multimodal.mediaPhashDedup128(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.foreach { case (a, b, h) =>
      assert(a < b, s"unordered pair ($a,$b)")
      assert(h >= 0 && h <= 12, s"hamming $h out of the declared band")
    }
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length)
    // identical text ⇒ identical bytes ⇒ identical CDC chunks ⇒
    // identical signature: exact-dup pairs must surface at hamming 0
    val texts = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byText = texts.toSeq.map { case (id, t) => (t, id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted).filter(_.length > 1)
    val got = pairs.map(p => (p._1, p._2) -> p._3).toMap
    byText.foreach { ids =>
      for (a <- ids; b <- ids if a < b)
        assert(got.get((a, b)).contains(0L),
          s"exact-duplicate media pair ($a,$b) missing or hamming != 0")
    }
    // the reason CDC features exist here: EDITED near-dups (different
    // text, shared chunk mass) land inside the radius — the fixed-offset
    // 128-bit variant found none (r11's weak item)
    assert(pairs.exists { case (a, b, h) => h > 0 && texts(a) != texts(b) },
      "no non-identical near-dup pair inside hamming 12")
  }

  test("CDC compiled rolling hash ≡ declarative per-offset window sum (fixture + full byte range)") {
    def chunks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // fixture media (ASCII-range bytes)
    val media = Multimodal.mediaTable(spark, dir)
    val got = chunks(Multimodal.cdcChunksOf(media))
    val want = chunks(Twins.cdcChunksDeclarative(media))
    assert(got === want)
    assert(got.nonEmpty)
    // adversarial binaries covering the full unsigned byte range
    // (fixture text never exercises bytes > 0x7f; the rolling update's
    // sign handling must)
    val bin = spark.range(50).selectExpr("id AS doc_id",
      "concat(unhex(md5(string(id))), unhex(md5(string(id + 1)))," +
        " unhex(md5(string(id * 7)))) AS media")
    assert(chunks(Multimodal.cdcChunksOf(bin)) ===
      chunks(Twins.cdcChunksDeclarative(bin)))
  }

  test("CDC chunking re-synchronizes after a front insertion; fixed-offset does not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 2 = doc 1 with 11 bytes INSERTED at the front; long enough
    // that many boundaries land in the shared tail
    val base = (1 to 400).map(i => s"w${i % 37}").mkString(" ")
    val media = Seq((1L, base), (2L, "INSERTED!! " + base))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    val chunks = Multimodal.cdcChunksOf(media).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val c1 = chunks.collect { case (1L, c) => c }.toSet
    val c2 = chunks.collect { case (2L, c) => c }.toSet
    val shared = c1.intersect(c2)
    assert(shared.size * 2 >= c1.size,
      s"CDC must share most chunks after re-sync: ${shared.size} of ${c1.size}")
    // the fixed-offset chunker on the same pair: the 11-byte shift
    // misaligns every 256-byte slice, so NO chunk survives
    val fixedShared = media
      .select(col("doc_id"), lower(hex(col("media"))).as("hx"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST((length(hx) + 511) div 512 - 1 AS INT)),
          |          i -> md5(substring(hx, i * 512 + 1, 512)))""".stripMargin))
        .as("chunk_md5"))
      .groupBy("chunk_md5").agg(countDistinct("doc_id").as("n"))
      .filter(col("n") === 2).count()
    assert(fixedShared === 0L,
      s"fixed-offset unexpectedly aligned: $fixedShared shared chunks")
  }

  test("declared CAS aggregate: edited blob's unchanged content dedups via CDC, not fixed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the same edit scenario driven through the DECLARED dedup
    // aggregate (casDedup) both CAS queries serve from — the r12
    // verdict's migration proof: an edited file's unchanged content
    // still deduplicates on the production (CDC) path, while the
    // fixed-offset teaching config reports NOTHING shared
    val base = (1 to 400).map(i => s"w${i % 37}").mkString(" ")
    val media = Seq((1L, base), (2L, "INSERTED!! " + base))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    val cdcShared = Multimodal.casDedup(Multimodal.cdcChunksOf(media))
      .filter(col("n_docs") === 2)
    assert(cdcShared.count() > 0, "CDC CAS must report cross-doc chunks")
    // every shared chunk keeps doc 1 as its canonical first copy
    assert(cdcShared.filter(col("first_doc") =!= 1L).count() === 0)
    val fixedSharedRows = Multimodal.casDedup(Multimodal.fixedChunksOf(media))
      .filter(col("n_docs") === 2).count()
    assert(fixedSharedRows === 0L)
  }
}
