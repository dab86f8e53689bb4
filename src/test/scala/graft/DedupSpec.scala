package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  // the plain inverted-index posting join (no hot shingles, so no salted
  // route): a formulation independent of the prefix, LSH and incremental
  // bodies the tests below pin against it
  lazy val postingPairs: Set[(Long, Long)] =
    Dedup.dedupNgramJaccardCapped(spark, dir, hotDf = Long.MaxValue, saltBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planted near-dup pairs exist in the fixture") {
    assert(postingPairs.nonEmpty)
  }

  test("prefix-filtered Jaccard join equals the inverted-index join (lossless)") {
    // both prefix orders: df-rarest-first and the declared hash order
    val prefix = Dedup.dedupNgramJaccardPrefix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefix === postingPairs)
    val hashPrefix = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hashPrefix === postingPairs)
  }

  test("MinHash-LSH pairs equal the exact Jaccard pairs (verified candidates)") {
    val lsh = Dedup.dedupMinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === postingPairs)
  }

  test("minhash verification applies the family's ±100-char length blocking (planted long/short pair)") {
    // r16 advice: the minhash oracles block on abs(Δn_chars) ≤ 100 but the
    // engine's exact-verification leg didn't, so a J ≥ 0.5 pair with
    // length diff > 100 (a doc vs the same doc repeated — near-identical
    // DISTINCT shingle set, quadrupled length) was emitted by the engine
    // and omitted by the oracle. Post-fix both drop it; the control pair
    // (identical text, Δ = 0) stays.
    import org.apache.spark.sql.functions._
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, t),                                 // short
      (2L, Seq(t, t, t, t).mkString(" ")),     // long: J = 38/40 = 0.95, Δchars ≈ 3·|t| > 100
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "alpha beta gamma delta epsilon"))) // exact copy: J = 1, Δ = 0
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // the planted pair IS a genuine near-dup — only the blocking excludes it
    val sh = Dedup.shingled(docs)
    val j12 = sh.where(col("doc_id") === 1L).select(col("shingles").as("a"))
      .crossJoin(sh.where(col("doc_id") === 2L).select(col("shingles").as("b")))
      .select((size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")).as("j"))
      .head().getDouble(0)
    assert(j12 >= 0.5, s"planted pair must pass the similarity bar (got $j12)")
    val pairs = Dedup.minhashLshPairsFrom(sh, rows = 4, bands = 16)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.contains((1L, 2L)),
      "length-blocked pair must not be emitted by the engine leg")
  }

  test("incremental LSH probe equals the batch×corpus slice of the exact pairs") {
    // restriction of the full exact pair set to pairs with exactly one
    // endpoint in the batch (doc_id ≡ 0 mod 10), re-oriented (new, old)
    val want = postingPairs.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }
    val got = Dedup.dedupIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty) // the fixture's planted dups straddle the split
  }

  test("SimHash (bigram features) finds every planted near-dup pair") {
    val sim = Dedup.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postingPairs.subsetOf(sim), s"missing: ${postingPairs.diff(sim)}")
  }

  test("hot-shingle df-cap + salted pair generation is result-identical") {
    // hotDf = 1 forces EVERY pair-producing shingle (df >= 2) through the
    // block-split salted path; the result must still equal the plain
    // inverted-index join
    val capped = Dedup.dedupNgramJaccardCapped(spark, dir,
        hotDf = 1L, saltBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === postingPairs)
  }

  test("simhash signatures: <2-word docs are excluded, not crashed on") {
    import spark.implicits._
    val df = Seq((1L, "solo"), (2L, "two words"), (3L, "three word doc"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df).collect()
    assert(sigs.map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("fused SimhashVotes expression ≡ the explode+vote-aggregate twins (64/128-bit, both input modes)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val feats = docs.filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), md5(col("bg")).as("m"))
    // hashInput = true (text bigrams, md5 computed inside the expression)
    val agg64 = Twins.simhashFromFeatures(feats).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused64 = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused64 === agg64)
    assert(fused64.nonEmpty)
    val agg128 = Twins.simhash128FromFeatures(feats).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fused128 = Dedup.simhash128Signatures(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fused128 === agg128)
    // hashInput = false (media path: CDC chunk fingerprints ARE md5 hex)
    val media = ops.Multimodal.mediaTable(spark, dir)
    val aggMedia = Twins.simhash128FromFeatures(
      ops.Multimodal.cdcChunksOf(media)
        .select(col("doc_id"), col("chunk_md5").as("m"))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fusedMedia = Dedup.simhash128FromFeatureArray(
      media.select(col("doc_id"), col("media"))
        .filter(octet_length(col("media")) >= 8)
        .select(col("doc_id"), graft.functions.VectorExpressions
          .contentChunks(col("media")).as("feats")),
      hashInput = false).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fusedMedia === aggMedia)
  }

  test("128-bit simhash knob: recall floor holds and bucket occupancy collapses vs 64-bit") {
    import org.apache.spark.sql.functions._
    // same bigram md5 features both ways
    val feats = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .wordShingles(col("text"), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), md5(col("bg")).as("m"))
    // recall floor: byte-identical texts (identical feature streams)
    // must pair at hamming 0 in the 128-bit space too
    val p128 = ops.Dedup.simhash128BandedPairs(
      Twins.simhash128FromFeatures(feats)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dupGroups = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).values.map(_.map(_._2).sorted).filter(_.length > 1)
    dupGroups.foreach { ids =>
      for (a <- ids; b <- ids if a < b)
        assert(p128.get((a, b)).contains(0L), s"identical pair ($a,$b) missed")
    }
    // the knob's actual claim: candidate volume Σ|bucket|² collapses
    // when bands carry 10 bits instead of 5
    def bucketVolume(banded: org.apache.spark.sql.DataFrame): Long = banded
      .groupBy(col("band"), col("bits")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n"))).head().getLong(0)
    val v64 = bucketVolume(Twins.simhashFromFeatures(feats)
      .select(col("doc_id"),
        explode(array((0 until 13).map { b =>
          val lo = b * 5; val w = math.min(5, 64 - lo)
          struct(lit(b).as("band"),
            shiftright(col("simhash"), lo).bitwiseAND((1L << w) - 1).as("bits"))
        }: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bits").as("bits")))
    // PRODUCTION band extraction (not a reimplementation — the r10 bug
    // was invisible because this test used to copy the same expression)
    val v128 = bucketVolume(ops.Dedup.simhash128Banded(
      Twins.simhash128FromFeatures(feats)))
    assert(v128 * 2 <= v64,
      s"10-bit bands must at least halve candidate volume: 64-bit=$v64 128-bit=$v128")
  }

  test("128-bit band bits match an independent BigInt formulation (negative words included)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // fixtures chosen so sign-extension bugs are visible: sig_lo with
    // bit 63 set (negative long) across varying sig_hi low bits — the
    // straddle band (band 6, bits 60..69) mixes exactly these
    val sigs = Seq(
      (1L, 0x0000000000000000L, 0x8000000000000000L),
      (2L, 0x0000000000000001L, 0x8000000000000000L),
      (3L, 0x000000000000002AL, 0xF000000000000000L),
      (4L, 0xFFFFFFFFFFFFFFFFL, 0xFFFFFFFFFFFFFFFFL),
      (5L, 0x0000000000000015L, 0xA000000000000000L),
      (6L, 0x123456789ABCDEF0L, 0x8FEDCBA987654321L),
      (7L, 0x8000000000000000L, 0x0000000000000001L),
      (8L, 0x7FFFFFFFFFFFFFFFL, 0x7FFFFFFFFFFFFFFFL))
      .toDF("doc_id", "sig_hi", "sig_lo")
    val got = ops.Dedup.simhash128Banded(sigs)
      .select(col("doc_id"), col("band"), col("bits")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // independent ground truth: assemble the full 128-bit value as a
    // BigInt from the unsigned word values and slice bands arithmetically
    val fixtures = Seq(
      1L -> (0x0000000000000000L, 0x8000000000000000L),
      2L -> (0x0000000000000001L, 0x8000000000000000L),
      3L -> (0x000000000000002AL, 0xF000000000000000L),
      4L -> (0xFFFFFFFFFFFFFFFFL, 0xFFFFFFFFFFFFFFFFL),
      5L -> (0x0000000000000015L, 0xA000000000000000L),
      6L -> (0x123456789ABCDEF0L, 0x8FEDCBA987654321L),
      7L -> (0x8000000000000000L, 0x0000000000000001L),
      8L -> (0x7FFFFFFFFFFFFFFFL, 0x7FFFFFFFFFFFFFFFL))
    // independent reimplementation of the BALANCED layout rule: the
    // first 128 % 13 = 11 bands carry 10 bits, the last two 9
    val widths128 = (0 until 13).map(b => if (b < 128 % 13) 10 else 9)
    val offsets128 = widths128.scanLeft(0)(_ + _)
    fixtures.foreach { case (id, (hi, lo)) =>
      val full = (BigInt(java.lang.Long.toUnsignedString(hi)) << 64) |
        BigInt(java.lang.Long.toUnsignedString(lo))
      (0 until 13).foreach { b =>
        val w = widths128(b)
        val want = ((full >> offsets128(b)) & ((BigInt(1) << w) - 1)).toLong
        assert(got((id, b)) === want,
          s"doc $id band $b: got ${got((id, b))}, want $want")
      }
    }
    // dispersion: docs 1-6 all have negative sig_lo but distinct sig_hi
    // low bits; their band-6 buckets must be distinct (the r10
    // sign-extending shiftright collapsed them toward all-ones)
    val band6 = fixtures.collect { case (id, (_, lo)) if lo < 0 => got((id, 6)) }
    assert(band6.distinct.size === band6.size,
      s"negative-sig_lo docs collapsed in band 6: $band6")
  }

  test("256-bit simhash: fused sha256 votes ≡ aggregate twin, recall floor, occupancy collapse vs 128") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val feats = docs.filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), sha2(col("bg"), 256).as("m"))
    val agg256 = Twins.simhash256FromFeatures(feats).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused256 = Dedup.simhash256Signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused256.nonEmpty && fused256 === agg256)
    // recall floor: byte-identical texts pair at hamming 0 — the
    // sf0.001 fixture has no exact text duplicates (the 128-bit test's
    // group loop is vacuous there), so PLANT one: a verbatim copy of
    // the first doc under a fresh id must band-join to its original
    val first = docs.orderBy(col("doc_id")).select("doc_id", "text")
      .head()
    val cloneId = first.getLong(0) + 10000000L
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(spark.createDataFrame(Seq(
        (cloneId, first.getString(1)))).toDF("doc_id", "text"))
    val p256 = Dedup.simhash256BandedPairs(
      Dedup.simhash256Signatures(planted)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(p256.get((first.getLong(0), cloneId)).contains(0L),
      "planted identical pair missed at hamming 0")
    // the widening's claim: 20-bit bands spread buckets at least as
    // well as 10-bit bands (equality possible at fixture size where
    // occupancy is already ~1; the collapse shows at corpus scale)
    def bucketVolume(banded: org.apache.spark.sql.DataFrame): Long = banded
      .groupBy(col("band"), col("bits")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n"))).head().getLong(0)
    val mdFeats = docs.filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), md5(col("bg")).as("m"))
    val v128 = bucketVolume(Dedup.simhash128Banded(
      Twins.simhash128FromFeatures(mdFeats)))
    val v256 = bucketVolume(Dedup.simhashArrayBanded(
      Twins.simhash256FromFeatures(feats), 256))
    assert(v256 <= v128,
      s"20-bit bands must not concentrate buckets: 128-bit=$v128 256-bit=$v256")
  }

  test("256-bit band bits match an independent BigInt formulation (straddles + negative words)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // bands 3 (60..79), 6 (120..139), 9 (180..198) straddle word
    // boundaries; negative longs in every position catch sign extension
    val fixtures: Seq[(Long, Seq[Long])] = Seq(
      1L -> Seq(0x8000000000000000L, 0L, 0L, 0L),
      2L -> Seq(0xF000000000000001L, 0x8000000000000000L, 1L, 0x8000000000000000L),
      3L -> Seq(-1L, -1L, -1L, -1L),
      4L -> Seq(0x123456789ABCDEF0L, 0x8FEDCBA987654321L,
        0x7EDCBA9876543210L, 0xFEDCBA9876543210L),
      5L -> Seq(0x8000000000000000L, 0x0000000000000001L,
        0x8000000000000000L, 0x0000000000000001L))
    val sigs = fixtures.toDF("doc_id", "sig")
    val got = Dedup.simhashArrayBanded(sigs, 256)
      .select(col("doc_id"), col("band"), col("bits")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // independent reimplementation of the BALANCED layout rule: the
    // first 256 % 13 = 9 bands carry 20 bits, the last four 19
    val widths256 = (0 until 13).map(b => if (b < 256 % 13) 20 else 19)
    val offsets256 = widths256.scanLeft(0)(_ + _)
    fixtures.foreach { case (id, words) =>
      val full = words.zipWithIndex.map { case (w, i) =>
        BigInt(java.lang.Long.toUnsignedString(w)) << (64 * i)
      }.reduce(_ | _)
      (0 until 13).foreach { b =>
        val w = widths256(b)
        val want = ((full >> offsets256(b)) & ((BigInt(1) << w) - 1)).toLong
        assert(got((id, b)) === want,
          s"doc $id band $b: got ${got((id, b))}, want $want")
      }
    }
  }

  test("512-bit simhash: fused sha256x2 votes ≡ aggregate twin, recall floor, occupancy vs 256") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    // the doubled digest the oracle replays: sha256(x) || sha256('#'||x)
    val feats = docs.filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), concat(sha2(col("bg"), 256),
        sha2(concat(lit("#"), col("bg")), 256)).as("m"))
    val agg512 = Twins.simhash512FromFeatures(feats).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused512 = Dedup.simhash512Signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused512.nonEmpty && fused512 === agg512)
    // recall floor: a planted verbatim copy pairs at hamming 0
    val first = docs.orderBy(col("doc_id")).select("doc_id", "text").head()
    val cloneId = first.getLong(0) + 10000000L
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(spark.createDataFrame(Seq(
        (cloneId, first.getString(1)))).toDF("doc_id", "text"))
    val p512 = Dedup.simhashArrayBandedPairs(
      Dedup.simhash512Signatures(planted), 512).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(p512.get((first.getLong(0), cloneId)).contains(0L),
      "planted identical pair missed at hamming 0")
    // 40/39-bit bands spread buckets at least as well as 20/19-bit ones
    def bucketVolume(banded: org.apache.spark.sql.DataFrame): Long = banded
      .groupBy(col("band"), col("bits")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n"))).head().getLong(0)
    val shaFeats = docs.filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(graft.functions.VectorExpressions
        .wordShingles(col("text"), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), sha2(col("bg"), 256).as("m"))
    val v256 = bucketVolume(Dedup.simhashArrayBanded(
      Twins.simhash256FromFeatures(shaFeats), 256))
    val v512 = bucketVolume(Dedup.simhashArrayBanded(
      Twins.simhash512FromFeatures(feats), 512))
    assert(v512 <= v256,
      s"40-bit bands must not concentrate buckets: 256-bit=$v256 512-bit=$v512")
  }

  test("512-bit band bits match an independent BigInt formulation (straddles + negative words)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 512 = 13 bands of 40/39 bits (first 512 % 13 = 5 carry 40):
    // straddling bands at this width are 1,3,4,6,8,9,11,12; negative
    // longs in every word position catch sign extension
    val fixtures: Seq[(Long, Seq[Long])] = Seq(
      1L -> (Seq(0x8000000000000000L) ++ Seq.fill(7)(0L)),
      2L -> Seq(0xF000000000000001L, 0x8000000000000000L, 1L,
        0x8000000000000000L, -1L, 0x7FFFFFFFFFFFFFFFL, 2L, 0x8000000000000001L),
      3L -> Seq.fill(8)(-1L),
      4L -> Seq(0x123456789ABCDEF0L, 0x8FEDCBA987654321L,
        0x7EDCBA9876543210L, 0xFEDCBA9876543210L,
        0x0F1E2D3C4B5A6978L, 0x8796A5B4C3D2E1F0L,
        0x1122334455667788L, 0x99AABBCCDDEEFF00L))
    val sigs = fixtures.toDF("doc_id", "sig")
    val got = ops.Dedup.simhashArrayBanded(sigs, 512)
      .select(col("doc_id"), col("band"), col("bits")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val widths512 = (0 until 13).map(b => if (b < 512 % 13) 40 else 39)
    val offsets512 = widths512.scanLeft(0)(_ + _)
    fixtures.foreach { case (id, words) =>
      val full = words.zipWithIndex.map { case (w, i) =>
        BigInt(java.lang.Long.toUnsignedString(w)) << (64 * i)
      }.reduce(_ | _)
      (0 until 13).foreach { b =>
        val w = widths512(b)
        val want = ((full >> offsets512(b)) & ((BigInt(1) << w) - 1)).toLong
        assert(got((id, b)) === want,
          s"doc $id band $b: got ${got((id, b))}, want $want")
      }
    }
  }

  test("exact dedup groups every doc exactly once") {
    val total = Dedup.dedupExact(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_copies")).collect()(0).getLong(0)
    assert(total === graft.Tables.documents(spark, dir).count())
  }

  test("containment pairs equal a from-scratch all-pairs recomputation") {
    val got = Dedup.dedupContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent brute force: distinct 3-shingle sets in plain Scala
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .filter(_._2.length >= 3)
      .map { case (id, ws) => id -> ws.sliding(3).map(_.mkString(" ")).toSet }
    val want = for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
      if c >= 0.8
    } yield (a, b, c)
    assert(got.toSet === want.toSet)
    assert(got.nonEmpty)
    // containment dominates Jaccard, so every Jaccard-0.8 pair is here;
    // the operator's reason to exist is the asymmetric pairs beyond that
    got.foreach { case (_, _, c) => assert(c >= 0.8 && c <= 1.0) }
  }

  test("duplicate substring spans equal a from-scratch suffix-scan recomputation") {
    val got = Dedup.dedupSubstringSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent brute force in plain Scala: positional 10-gram strings
    // (no hashing — proves the md5 keying changes nothing), cross-doc
    // df >= 2, then island-merge of overlapping gram starts
    val k = 10
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .filter(_._2.length >= k)
    val occ = for ((id, ws) <- docs; (g, p) <- ws.sliding(k).zipWithIndex)
      yield (id, p.toLong, g.mkString(" "))
    val dupGrams = occ.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = docs.flatMap { case (id, ws) =>
      val hit = ws.sliding(k).zipWithIndex
        .collect { case (g, p) if dupGrams(g.mkString(" ")) => p.toLong }.toSeq
      // islands: consecutive positions chain into one maximal span
      val islands = hit.foldLeft(List.empty[List[Long]]) {
        case (acc @ (cur :: rest), p) if p == cur.head + 1 => (p :: cur) :: rest
        case (acc, p) => List(p) :: acc
      }.map(_.reverse).reverse
      islands.map(is => (id, is.head, is.last + k - 1, is.last - is.head + k, is.size.toLong))
    }
    assert(got.toSet === want.toSet)
    assert(got.nonEmpty)
    // spans never overlap within a doc and all have >= k tokens
    got.groupBy(_._1).values.foreach { spans =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3)
        case _ =>
      }
    }
    got.foreach { case (_, s, e, n, _) => assert(n === e - s + 1 && n >= k) }
  }

  test("substring-span df cap drops boilerplate grams, keeps genuine duplicate spans") {
    import spark.implicits._
    // 20 docs opening with the SAME 10-token boilerplate gram (occurrence
    // count 20 — the skew hotspot the cap exists for) + unique tails;
    // plus one planted pair sharing a 12-token span (gram occurrences 2)
    val boiler = (0 until 10).map(i => s"x$i").mkString(" ")
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val docs = (0L until 20L).map(i =>
      i -> s"$boiler u${i}_0 u${i}_1 u${i}_2 u${i}_3 u${i}_4") ++ Seq(
      100L -> s"a0 a1 a2 $shared b0 b1 b2",
      101L -> s"c0 c1 c2 $shared d0 d1 d2")
    val df = docs.toDF("doc_id", "text")
    val uncapped = Dedup.spansFromDocs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.spansFromDocs(df, dfCap = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // uncapped: the boilerplate span appears in all 20 docs + the pair
    assert(uncapped.map(_._1).count(_ < 20L) === 20)
    assert(uncapped.contains((100L, 3L, 14L)) && uncapped.contains((101L, 3L, 14L)))
    // capped at 10: only the planted pair's spans survive
    assert(capped === Set((100L, 3L, 14L), (101L, 3L, 14L)))
  }

  test("rolling fingerprint is deterministic and text-sensitive") {
    import graft.ops.TextAnalysis
    val fp1 = TextAnalysis.rollingFingerprint(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fp2 = TextAnalysis.rollingFingerprint(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp1 === fp2)
    assert(fp1.values.toSet.size > 400) // near-unique across 500 docs
  }
}
