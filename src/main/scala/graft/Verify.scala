package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Storm-resilient by construction (r4 lost its whole correctness signal
  * to a host CPU-steal storm that stretched the run past the driver's
  * timeout, leaving an empty artifact):
  *  - oracle_sql.json is written BEFORE the query loop, so a partial run
  *    still gives the driver the full oracle map;
  *  - every query's parquet is flushed as it completes (the loop was
  *    already incremental) plus a per-query status line appended to
  *    verify_status.jsonl — an interrupted run leaves all finished
  *    results comparable;
  *  - each query runs under a wall-clock budget (SPARK_GRAFT_QUERY_
  *    TIMEOUT_SEC, default 180 s — sf0.01 medians are ~0.1 s, so even a
  *    measured-in-r4 ~95× steal inflation fits) in its own job group;
  *    on overrun the group is cancelled and the run records "timeout"
  *    and MOVES ON instead of dying wholesale. */
object Verify {
  /** Run `body` on a worker thread inside its own Spark job group with a
    * wall-clock budget; cancel the group on overrun. Returns "ok",
    * "timeout", or "error: …". Job groups are thread-local, hence the
    * dedicated thread. */
  def runBudgeted(spark: SparkSession, name: String, budgetSec: Long)(
      body: => Unit): String = {
    val group = s"graft-$name"
    @volatile var err: Throwable = null
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try body
      catch { case e: Throwable => err = e }
      finally spark.sparkContext.clearJobGroup()
    }, s"graft-verify-$name")
    t.setDaemon(true)
    t.start()
    t.join(budgetSec * 1000)
    if (t.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      t.join(15000) // give cancelled tasks a moment to unwind
      "timeout"
    } else if (err != null) {
      val m = Option(err.getMessage).getOrElse(err.getClass.getName)
      "error: " + m.linesIterator.take(1).mkString
    } else "ok"
  }

  /** Bounded shutdown for the forked verify/bench JVMs: a task wedged in
    * non-interruptible I/O after a job-group cancel can hang
    * spark.stop() (observed: >3 min on a 1 s-budget cancel test), which
    * would re-create exactly the rc=124 failure mode this harness exists
    * to prevent. All results are already flushed to disk before this is
    * called, so halting is safe. A clean stop exits normally instead, so
    * the JVM's shutdown hooks delete the run's temp dirs (graft's,
    * Spark's artifact dir, extracted native libs), still under a bound. */
  def stopAndHalt(spark: SparkSession, exitHook: () => Unit = () => ()): Unit = {
    val stopper = new Thread(() => spark.stop(), "graft-spark-stop")
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(60000)
    exitHook()
    if (stopper.isAlive) {
      // halt skips the shutdown hook that deletes the run's temp dirs
      GraftSession.deleteTempDirs()
      Runtime.getRuntime.halt(0)
    }
    val watchdog = new Thread(() => { Thread.sleep(30000); Runtime.getRuntime.halt(0) })
    watchdog.setDaemon(true)
    watchdog.start()
    sys.exit(0)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (mirrors Bench's SPARK_GRAFT_BENCH_ONLY):
    // the driver never sets it, so its runs stay full-surface
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // oracle_sql.json FIRST: a run killed mid-loop must still hand the
    // driver the oracle map for every query that did finish.
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val budget = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "180").toLong
    val statusPath = Paths.get(s"$outDir/verify_status.jsonl")
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      // as in Bench: drop the previous query's persisted intermediates so
      // they do not pile up across the whole surface
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val status = runBudgeted(spark, name, budget) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (status != "ok") {
        System.err.println(s"[verify] $name: $status")
        // self-describing failure (r5 lesson: broken queries were simply
        // ABSENT from the correctness artifact, indistinguishable from
        // never-declared): write a one-row parquet carrying the error so
        // the driver's compare produces an explicit failing entry for
        // this query instead of silently skipping it.
        try {
          import spark.implicits._
          Seq(status).toDF("error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name: error-artifact write failed: $e")
        }
      }
      Files.writeString(statusPath,
        s"""{"query":${jstr(name)},"status":${jstr(status)},"sec":${(math.round(sec * 1000) / 1000.0)}}""" + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    stopAndHalt(spark)
  }
}
