package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. The JSON is (a) written to a file —
  * SPARK_GRAFT_BENCH_OUT if set, else BENCH_LAST.json in the cwd — so the
  * driver can machine-read it without scraping sbt log noise, and (b)
  * printed as the process's last stdout line (after spark.stop()).
  *
  * Queries are executed via the `noop` sink, not `.count()`: a count lets
  * Catalyst's EliminateSorts drop a terminal orderBy, under-timing every
  * sort-terminated query. The noop write runs the FULL plan (including
  * final sorts) and discards rows executor-side — no driver collect.
  *
  * MIN-COMPOSITE methodology: this host shows CPU-steal bursts that can
  * inflate a single pass by 3-10× (r4 measured 348/399/1175/334 s for
  * identical code; the r4/r5 verdicts mandated min-per-query over ≥3
  * runs). The loop therefore makes up to SPARK_GRAFT_BENCH_RUNS (default
  * 3) full passes, keeping the MINIMUM time per query — the value
  * closest to steal-free steady state — and records
  * `"method":"min_composite","runs":<completed>` so the artifact is
  * honest about how it was measured.
  *
  * Pass scheduling (r14 verdict #1 — the runs:2 steal-band artifact):
  * the min-composite defense only works with ≥ 3 passes, and the old
  * rule (extra passes start only while elapsed + last-pass fits
  * SPARK_GRAFT_BENCH_TIME_BUDGET_SEC) cut the run to 2 passes exactly
  * when steal made passes slow — i.e. exactly when the extra pass was
  * most needed. Now the first SPARK_GRAFT_BENCH_MIN_RUNS (default 3)
  * passes are EXEMPT from the soft budget (default 900 s), so a steal
  * burst extends the run instead of truncating the defense; only passes
  * beyond the floor honor the soft budget. The process still can't run
  * away: a HARD ceiling (SPARK_GRAFT_BENCH_HARD_CAP_SEC, default 3× the
  * soft budget) binds every pass including the floor, and the artifact
  * file is rewritten after every query, so even a ceiling-stop or
  * external kill leaves a valid min-composite over the completed work.
  *
  * Budget-contract caveat (r15 advice): since the min-runs floor,
  * setting ONLY SPARK_GRAFT_BENCH_TIME_BUDGET_SEC no longer bounds the
  * run at its value — the floor passes ignore it, so the worst case is
  * the 3×-budget hard cap PLUS one final steal-inflated pass (the cap
  * gates STARTING a pass, never kills one mid-flight; killing mid-pass
  * would corrupt the min-composite with a partial pass). Honoring an
  * explicitly-set TIME_BUDGET as the hard-cap default was considered
  * and REJECTED: the driver's per-round bench sets the budget env, and
  * budget-as-cap would let a steal burst truncate the run back to two
  * passes — exactly the r14 artifact the floor exists to prevent.
  * Callers needing a strict wall set SPARK_GRAFT_BENCH_HARD_CAP_SEC.
  *
  * Self-describing failures (r5 folded 27 error-exit times into a
  * "partial":false total): a query that never succeeds appears in
  * EXACTLY ONE of the top-level `"errors":{name:message}` map (if any
  * pass errored — error beats timeout regardless of pass order) or
  * `queries` as -1 (timed out in every pass; excluded from total). The
  * merge rule is the pure [[mergeStatus]], exhaustively unit-tested
  * (BenchMergeSpec) so the maps-disjoint invariant downstream parsers
  * rely on is pinned, not assumed. `"partial"` is true only until the
  * first pass has attempted every query. The file is rewritten after
  * every query of every pass, so a mid-run kill still leaves a valid,
  * honest artifact.
  */
object Bench {
  /** Pure merge of one pass's outcome for `name` into the running
    * (best, errs) state — extracted so the artifact's documented
    * invariant is UNIT-TESTED (BenchMergeSpec enumerates every status
    * sequence over three passes), not just hand-audited:
    *
    *   `best` (the JSON `queries` map) and `errs` (the JSON `errors`
    *   map) NEVER both contain a name.
    *
    * Resolution, independent of pass order: any `ok` wins (min positive
    * time, error history cleared); a never-ok query lands in exactly one
    * map — `errors` if ANY pass errored (an exception message is more
    * informative than a bare -1, so an error upgrades a prior timeout's
    * -1; the first message is kept), else `queries` as -1 (timed out in
    * every pass). */
  def mergeStatus(best: scala.collection.mutable.Map[String, Double],
      errs: scala.collection.mutable.Map[String, String],
      name: String, status: String, sec: Double): Unit = status match {
    case "ok" =>
      errs.remove(name) // a later success overrides an earlier error
      if (best.get(name).forall(b => b < 0 || sec < b)) best(name) = sec
    case "timeout" =>
      if (!best.contains(name) && !errs.contains(name)) best(name) = -1.0
    case err =>
      // only when there is no real measurement (absent or -1 sentinel);
      // drop the sentinel so the two maps stay disjoint
      if (best.get(name).forall(_ < 0)) {
        best.remove(name)
        if (!errs.contains(name)) errs(name) = err
      }
  }

  /** Pure pass-scheduling rule (unit-tested in BenchMergeSpec — the r14
    * verdict's #1 deliverable was this rule misbehaving under steal):
    * another pass starts iff the target isn't met AND either the
    * min-runs floor hasn't been reached (floor passes ignore the soft
    * budget — a steal-slowed pass is the case that NEEDS another pass)
    * or the projected finish fits the soft budget — and in all cases
    * the projected finish must fit the hard cap. */
  def shouldContinue(pass: Int, runsTarget: Int, minRuns: Int,
      elapsedSec: Long, lastPassSec: Long, budgetSec: Long,
      hardCapSec: Long): Boolean =
    pass < runsTarget &&
      (pass < minRuns || elapsedSec + lastPassSec <= budgetSec) &&
      elapsedSec + lastPassSec <= hardCapSec

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to every core: the driver benches on the full machine and
    // does not set SPARK_GRAFT_CPUS (a 4-thread default under-times by ~2×)
    val spark = GraftSession.local(GraftSession.cpus())
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // warm up codegen/classloading/parquet footer caches so the first
    // timed query doesn't absorb one-time JVM costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.headOption.foreach { case (name, _) =>
      try run(name) catch { case _: Throwable => }
    }
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset (driver unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // FIXED name order: Map iteration order shifts whenever the query
    // surface grows, and a query's wall time is not independent of its
    // predecessor (JIT/GC/page-cache state — r8 measured the same query
    // at 0.58 s isolated vs 3.06 s min-composite after an unlucky
    // reshuffle). Sorted order makes per-query numbers comparable
    // across rounds; the min-composite handles the remaining noise.
    val picked = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })
      .toSeq.sortBy(_._1)
    // locale-safe fixed-point (the f"" interpolator honors the default
    // locale and can emit a comma decimal separator)
    def fmt(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    def entry(kv: (String, Double)): String = "\"" + kv._1 + "\":" + fmt(kv._2)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    val runsTarget = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val timeBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TIME_BUDGET_SEC", "900").toLong
    // min-composite needs >= 3 passes to shed a steal burst (scaladoc);
    // the floor is capped at runsTarget so an explicit RUNS=1 dev loop
    // stays a single pass
    val minRuns = math.min(runsTarget,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_RUNS", "3").toInt)
    val hardCapSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_HARD_CAP_SEC",
      (timeBudgetSec * 3).toString).toLong
    val budget = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong

    // min-per-query across passes; -1 = timed out in every pass so far
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    // queries that ERRORED in every pass so far (message, fail-fast time)
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    var runsCompleted = 0

    def jsonNow(partial: Boolean, runs: Int): String = {
      val total = best.values.filter(_ >= 0).sum
      val qs = best.toSeq.map(entry).mkString("{", ",", "}")
      val es = errs.toSeq
        .map { case (k, v) => Verify.jstr(k) + ":" + Verify.jstr(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","method":"min_composite","runs":$runs,"partial":$partial,"errors":$es,"queries":$qs,"sf":"$sfDir"}"""
    }
    def writeOut(partial: Boolean, runs: Int): String = {
      val full = jsonNow(partial, runs)
      try Files.writeString(Paths.get(outPath), full + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write failed: $e") }
      full
    }

    val tStart = System.nanoTime()
    def elapsedSec: Long = (System.nanoTime() - tStart) / 1000000000L
    var pass = 0
    var lastPassSec = 0L
    var continue = true
    while (continue) {
      pass += 1
      val tPass = System.nanoTime()
      picked.foreach { case (name, _) =>
        // drop persisted intermediates from the previous query: leaked
        // caches otherwise pile up across 80+ queries and evict/spill
        // later queries' working sets (measured as ±2 s per-query jitter)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val status = Verify.runBudgeted(spark, name, budget) { run(name) }
        val sec = (System.nanoTime() - t0) / 1e9
        mergeStatus(best, errs, name, status, sec)
        if (status != "ok") System.err.println(s"[bench] $name: $status")
        writeOut(partial = pass == 1 && best.size + errs.size < picked.size,
          runs = runsCompleted) // survive a mid-run kill
      }
      runsCompleted = pass
      lastPassSec = (System.nanoTime() - tPass) / 1000000000L
      writeOut(partial = false, runs = runsCompleted)
      continue = shouldContinue(pass, runsTarget, minRuns,
        elapsedSec, lastPassSec, timeBudgetSec, hardCapSec)
      if (!continue && pass < runsTarget)
        System.err.println(
          s"[bench] stopping after $pass/$runsTarget passes: " +
            s"${elapsedSec}s elapsed + ~${lastPassSec}s/pass exceeds " +
            (if (elapsedSec + lastPassSec > hardCapSec)
              s"the ${hardCapSec}s hard cap"
            else s"the ${timeBudgetSec}s budget (min-runs floor $minRuns met)"))
    }
    val full = writeOut(partial = false, runs = runsCompleted)
    // The driver scrapes only the LAST 2000 bytes of stdout; the full
    // per-query map for 90+ queries overflows that window and the JSON
    // line becomes unparseable (BENCH_r02/r03 "parsed": null). Print a
    // size-capped line instead: slowest queries first, stop before the
    // line can exceed the window, and record how many were elided. The
    // complete map is always in the file written above.
    val line =
      if (full.length <= 1800) full
      else {
        val total = best.values.filter(_ >= 0).sum
        val slowestFirst = best.toSeq.sortBy(-_._2).map(entry)
        val kept = new scala.collection.mutable.ArrayBuffer[String]
        var used = 290 + errs.size * 24 // envelope + sf path + omitted slack
        for (e <- slowestFirst if used + e.length + 1 <= 1800) {
          kept += e; used += e.length + 1
        }
        val qs = (kept :+ ("\"_omitted\":" + (best.size - kept.size)))
          .mkString("{", ",", "}")
        val es = errs.keys.map(k => Verify.jstr(k) + ":\"error\"")
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","method":"min_composite","runs":$runsCompleted,"partial":false,"errors":$es,"queries":$qs,"sf":"$sfDir"}"""
      }
    // bounded stop + halt (see Verify.stopAndHalt scaladoc); the JSON
    // line must still be the process's last stdout output, so it prints
    // from the exit hook after stop but before halt.
    Verify.stopAndHalt(spark, () => println(line))
  }
}
