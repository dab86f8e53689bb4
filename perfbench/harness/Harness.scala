package perfbench

import java.io.{File, OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ExpandExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters, fed by a SparkListener and a QueryExecutionListener
  * that the harness registers on traced runs only. Both are called on
  * Spark's listener-bus thread; the harness drains the bus before it
  * reads them. */
final class Layers extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  var jobs, stages, tasks = 0L
  var taskCpuNs, shuffleWriteB, shuffleReadB, spillB = 0L
  var singleTaskStageMs = 0L
  var maxTaskSkew = 0.0
  var planMs, expandRows = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStart = mutable.Map[Int, Long]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      spillB += m.diskBytesSpilled + m.memoryBytesSpilled
    }
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    if (i.numTasks == 1)
      for (s <- i.submissionTime; c <- i.completionTime) singleTaskStageMs += c - s
    taskMs.remove((i.stageId, i.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        maxTaskSkew = math.max(maxTaskSkew, sorted.last.toDouble / med)
      }
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    expandRows += collectWithSubqueries(qe.executedPlan) {
      case x: ExpandExec => x.metrics("numOutputRows").value
    }.sum
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wall time during which at least one Spark job ran, within [from, to). */
  def jobBusyMs(from: Long, to: Long): Long = synchronized {
    val spans = jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy, end = 0L
    for ((s, e) <- spans) {
      if (s >= end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    busy
  }
}

/** Timed calls into the program's public entry points.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <spec>
  *  - query workloads: spec is a comma-separated list of declared query
  *    names; one round runs each once through `SparkEntry.queries(name)`
  *    and materialises every row with `collect()` (a count would let
  *    Catalyst drop a terminal sort);
  *  - insights: spec is `<csvPath>:<k>`; one round is one
  *    `PlayStore.extractScale` over the first k grouping columns.
  * `WarmupRounds` untimed warm-up rounds run first; then timed rounds
  * repeat until `seconds` have passed, three at least. All rounds share
  * one session, so the warm-up builds every `ops.Indexes` entry (keyed by
  * session) the round's queries read, and each timed round starts with
  * all of them built.
  * Writes `<outDir>/result.json`. */
object Harness {
  /** The first round pays class loading, code generation and the index
    * builds, and runs several times slower than the next; with the tiered
    * JIT the second still runs 10 to 20 % slower than those after it while
    * C2 compiles the hot paths. */
  val WarmupRounds = 2

  private def now: Long = System.nanoTime()
  private def sec(ns: Long): Double = ns / 1e9

  private def stealTicks(): Long = try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
    if (cpu.length > 8) cpu(8).toLong else 0L
  } catch { case _: Throwable => 0L }

  /** Peak resident set of this JVM so far (VmHWM), in KiB. */
  private def peakRssKb(): Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  } catch { case _: Throwable => 0L }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Order-insensitive digest of a result, for comparing rounds. */
  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update(0: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Forwards stdout and stamps the moment `extractScale` prints its
    * `INSIGHTS route=` line, which ends its statistics pass. */
  private final class RouteTap(out: PrintStream) extends OutputStream {
    private val line = new java.io.ByteArrayOutputStream()
    @volatile var routeAt = 0L
    @volatile var routeLine = ""
    override def write(b: Int): Unit = {
      out.write(b)
      if (b == '\n') {
        val l = line.toString(UTF_8); line.reset()
        if (l.startsWith("INSIGHTS route=")) { routeAt = now; routeLine = l }
      } else line.write(b)
    }
    override def flush(): Unit = out.flush()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, seconds, trace, spec) = args
    val traced = trace == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val layers = new Layers
    if (traced) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(layers)
    }
    def drain(): Unit = if (traced) BusAccess.drain(spark.sparkContext)

    val insights = workload == "insights_scale"
    val names: Seq[String] = if (insights) Seq("extractScale") else spec.split(",").toSeq
    val (csvPath, k) =
      if (insights) { val i = spec.lastIndexOf(':'); (spec.take(i), spec.drop(i + 1).toInt) }
      else ("", 0)
    val tap = new RouteTap(System.out)
    val tapOut = new PrintStream(tap, true)

    case class Exec(round: Int, name: String, s: Double, buildS: Double,
      buildJobs: Long, status: String, digest: String, statsS: Double, cubeS: Double)
    val execs = mutable.ArrayBuffer[Exec]()
    val warmS = mutable.LinkedHashMap[String, Double]()
    val firstRows = mutable.LinkedHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]()
    var leakedB = 0L
    var routeLine = ""

    // A round's time is the sum of its operations' times, each from the call
    // to its last result row; the harness's own work between them (clearing
    // the cache, draining the listener bus, digesting the rows) is not in it.
    def runRound(round: Int, timed: Boolean): Double = {
      var roundNs = 0L
      for (name <- names) {
        spark.catalog.clearCache()
        drain(); val jobs0 = layers.jobs
        val q0 = now
        var b1 = q0
        var status = "ok"
        var rows: Array[Row] = null
        var df: org.apache.spark.sql.DataFrame = null
        var statsS, cubeS = 0.0
        var buildJobs = 0L
        try {
          if (insights) {
            tap.routeAt = 0L
            val cfg = graft.insights.PlayStore.cfg
            Console.withOut(tapOut) {
              graft.insights.PlayStore.extractScale(spark, csvPath, s"$outDir/insights/r$round",
                config = cfg.copy(groupingCols = cfg.groupingCols.take(k)))
            }
            if (tap.routeAt > 0) {
              statsS = sec(tap.routeAt - q0); routeLine = tap.routeLine
            }
          } else {
            df = graft.SparkEntry.queries(name)(spark, dataDir)
            b1 = now
            drain(); buildJobs = layers.jobs - jobs0
            rows = df.collect()
          }
        } catch { case e: Throwable =>
          status = "error: " + Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          System.err.println(s"[perfbench] $name: $status")
        }
        val q1 = now
        roundNs += q1 - q0
        if (insights && statsS > 0) cubeS = sec(q1) - sec(tap.routeAt)
        drain()
        if (traced && timed)
          leakedB += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        if (timed) {
          val d = if (rows == null) "" else digest(rows)
          if (rows != null && !firstRows.contains(name)) firstRows(name) = (rows, df.schema)
          execs += Exec(round, name, sec(q1 - q0), sec(b1 - q0), buildJobs, status, d,
            statsS, cubeS)
        } else if (!warmS.contains(name)) warmS(name) = sec(q1 - q0)
      }
      spark.catalog.clearCache()
      sec(roundNs)
    }

    // warm-up rounds are numbered up to 0, timed ones from 1
    for (r <- 1 - WarmupRounds to 0) runRound(r, timed = false)
    drain()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val gc0 = gcMs; val jit0 = jitMs; val cg0 = CodeGenerator.compileTime
    val l0 = (layers.jobs, layers.stages, layers.tasks, layers.taskCpuNs,
      layers.shuffleWriteB, layers.shuffleReadB, layers.spillB, layers.singleTaskStageMs,
      layers.planMs, layers.expandRows)
    layers.maxTaskSkew = 0.0
    val steal0 = stealTicks()
    val wall0 = System.currentTimeMillis()
    val tStart = now
    val roundS = mutable.ArrayBuffer[Double]()
    val roundCpuS = mutable.ArrayBuffer[Double]()
    var round = 0
    while (round < 3 || now - tStart < seconds.toLong * 1000000000L) {
      round += 1
      val c0 = cpuNs
      roundS += runRound(round, timed = true)
      roundCpuS += sec(cpuNs - c0)
    }
    val wall1 = System.currentTimeMillis()
    val steal1 = stealTicks()
    drain()
    val gc1 = gcMs; val jit1 = jitMs; val cg1 = CodeGenerator.compileTime

    // first-round outputs of the query workloads, for the oracle check
    for ((name, (rows, schema)) <- firstRows) {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/rows/$name")
    }

    val perRound = round.toDouble
    def layer(k: String, v: Double): String = s"${jstr(k)}:$v"
    val layersJson = if (!traced) "{}" else Seq(
      layer("entry.build_s", execs.map(_.buildS).sum / perRound),
      layer("entry.build_jobs", execs.map(_.buildJobs).sum / perRound),
      layer("catalyst.plan_s", (layers.planMs - l0._9) / 1000.0 / perRound),
      layer("catalyst.codegen_compile_s", (cg1 - cg0) / 1e9 / perRound),
      layer("jvm.jit_s", (jit1 - jit0) / 1000.0 / perRound),
      layer("jvm.gc_s", (gc1 - gc0) / 1000.0 / perRound),
      layer("exec.jobs", (layers.jobs - l0._1) / perRound),
      layer("exec.stages", (layers.stages - l0._2) / perRound),
      layer("exec.tasks", (layers.tasks - l0._3) / perRound),
      layer("exec.run_s", layers.jobBusyMs(wall0, wall1 + 1) / 1000.0 / perRound),
      layer("exec.task_cpu_s", (layers.taskCpuNs - l0._4) / 1e9 / perRound),
      layer("exec.shuffle_write_mb", (layers.shuffleWriteB - l0._5) / 1e6 / perRound),
      layer("exec.shuffle_read_mb", (layers.shuffleReadB - l0._6) / 1e6 / perRound),
      layer("exec.spill_mb", (layers.spillB - l0._7) / 1e6 / perRound),
      layer("exec.single_task_stage_s", (layers.singleTaskStageMs - l0._8) / 1000.0 / perRound),
      layer("exec.max_task_skew", layers.maxTaskSkew),
      layer("insights.expand_rows", (layers.expandRows - l0._10) / perRound),
      layer("insights.stats_s", execs.map(_.statsS).sum / perRound),
      layer("insights.cube_s", execs.map(_.cubeS).sum / perRound),
      layer("cache.leaked_mb", leakedB / 1e6 / perRound),
      layer("host.steal_ticks", (steal1 - steal0).toDouble)
    ).mkString("{", ",", "}")
    val execJson = execs.map { e =>
      s"""{"round":${e.round},"name":${jstr(e.name)},"s":${e.s},"build_s":${e.buildS},""" +
        s""""status":${jstr(e.status)},"digest":${jstr(e.digest)}}"""
    }.mkString("[", ",", "]")
    val oracle = names.filter(firstRows.contains)
      .map(n => s"${jstr(n)}:${jstr(graft.SparkEntry.oracleSql.getOrElse(n, ""))}")
      .mkString("{", ",", "}")
    val json = s"""{"setup_s":$setupS,"session_s":$sessionS,"peak_rss_kb":${peakRssKb()},"rounds":$round,"warmup_rounds":$WarmupRounds,"steal_ticks":${steal1 - steal0},"round_s":${roundS.mkString("[", ",", "]")},"round_cpu_s":${roundCpuS.mkString("[", ",", "]")},""" +
      s""""route":${jstr(routeLine)},"warmup_s":${warmS.map { case (n, t) => s"${jstr(n)}:$t" }.mkString("{", ",", "}")},"layers":$layersJson,"execs":$execJson,"oracle":$oracle}"""
    Files.writeString(Paths.get(outDir, "result.json"), json)
    spark.stop()
    System.exit(0)
  }
}
