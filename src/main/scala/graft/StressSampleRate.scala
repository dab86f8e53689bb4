package graft

import org.apache.spark.sql.functions._
import graft.ops.Calibrate

/** One-off probe for the SAMPLED calibration's failure mode (r15 verdict
  * #5): a boilerplate corpus whose hot shingles the sample must still
  * resolve. Builds the planted-boilerplate scaled corpus (StressScale's
  * SPARK_GRAFT_SCALE_BOILERPLATE null: a FIXED 16-token header prepended
  * to every 10th doc in every namespaced copy, so the header's
  * 3-shingles/10-grams carry df = n/10 — the hot-partition workload the
  * df caps exist for), computes the FULL stats pass as truth, then
  * sweeps the sampling rate DOWN a fixed divisor-of-10000 ladder and
  * reports, per rate, whether the chosen shingle_hot_df / span_gram_cap
  * / rung match the full pass — the divergence onset is the probe's
  * readout and becomes the documented minimum-rate rule
  * ([[graft.ops.Calibrate.SampleBudgetDocs]] scaladoc, BASELINE.md r16).
  *
  * Why hot items are the EASY case (and the tail the hard one): a
  * df = n/10 header gram keeps expected sampled df = p·n/10 ≫ 2 at any
  * practical rate, and its relative error concentrates (Chernoff), so
  * the over-budget verdict and the boundary it lands on are stable; the
  * risk is a rate so low that the MID-tail (df just above the chosen
  * boundary) drops below the df ≥ 2 evidence filter, deflating the
  * cumulative mass below budget and RAISING the cap. The sweep makes
  * that onset a measured number instead of a guess.
  */
object StressSampleRate {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scale = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "/tmp/graft_samplerate"
    val spark = GraftSession.local(GraftSession.cpus())
    def fmt(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up

    // the StressScale boilerplate null: namespaced copies + a fixed
    // (NOT namespaced) header on every 10th doc of every copy
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val stride = StressScale.rekeyStride(docs, "doc_id")
    val header = (1 to 16).map(i => s"bplic$i").mkString(" ")
    (0 until scale).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * stride)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"))
    }.map(d => d
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10L)) === 0,
            concat(lit(header), lit(" "), col("text"))).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val grown = spark.read.parquet(s"$out/documents.parquet")

    val (full, fullS) = timed {
      Calibrate.paramsFromDocs(Calibrate.calibrateFromDocs(grown))
    }
    println(s"""{"sample_rate_probe":{"rate_bp":"full","n_docs":${full.nDocs},""" +
      s""""hot_df":${full.shingleHotDf},"span_cap":${full.spanGramCap},""" +
      s""""bits":${full.simhashBits},"sec":${fmt(fullS)}}}""")

    // fixed divisor-of-10000 ladder, full rate down to 1 bp
    for (bp <- Seq(10000L, 2500L, 1000L, 250L, 100L, 25L, 10L, 1L)) {
      val (p, sec) = timed {
        Calibrate.sampledParamsFromDocs(grown, forceBp = Some(bp))
      }
      val hotOk = p("shingle_hot_df") == full.shingleHotDf
      val spanOk = p("span_gram_cap") == full.spanGramCap
      val rungOk = p("simhash_bits") == full.simhashBits.toLong
      println(s"""{"sample_rate_probe":{"rate_bp":$bp,""" +
        s""""n_sampled":${p("n_docs_sampled")},""" +
        s""""hot_df":${p("shingle_hot_df")},"span_cap":${p("span_gram_cap")},""" +
        s""""hot_df_match":$hotOk,"span_cap_match":$spanOk,""" +
        s""""rung_match":$rungOk,"sec":${fmt(sec)}}}""")
    }
    // the self-sizing rule's own choice on this corpus, for reference
    val auto = Calibrate.sampleBpFor(full.nDocs)
    println(s"""{"sample_rate_probe":{"rate_bp":"auto","chosen_bp":$auto,""" +
      s""""n_docs":${full.nDocs}}}""")
    spark.stop()
  }
}
