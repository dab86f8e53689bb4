package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.TempDirs

/** The one local SparkSession builder, shared by every main and the test
  * suite, and the one temp-dir helper. `InsightsMain` keeps its own
  * builder: under spark-submit its master and confs come from the
  * deployment. `nanosAsLong` is set here because `events.parquet` may
  * carry TIMESTAMP(NANOS), which fails schema conversion without it
  * (`Tables.normalizeTs`). */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else `default` (every core). */
  def cpus(default: Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.warehouse.dir", tempDir("graft_wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val made = new ConcurrentLinkedQueue[File]()

  /** A fresh dir under `java.io.tmpdir`, deleted at JVM exit. */
  def tempDir(prefix: String): String = {
    val d = TempDirs.create(prefix)
    made.add(d)
    d.toString
  }

  /** Deletes every dir [[tempDir]] made, for exits that skip shutdown
    * hooks (`Runtime.halt`). */
  def deleteTempDirs(): Unit = made.asScala.foreach { d =>
    try TempDirs.delete(d)
    catch { case e: Exception => System.err.println(s"[graft] could not delete $d: $e") }
  }
}
