package org.apache.spark.sql.graft

import java.io.File

import org.apache.spark.util.Utils

/** Bridge to Spark's private[spark] temp-dir helpers: `create` makes a
  * dir under `java.io.tmpdir` and registers it for recursive deletion
  * at JVM exit (Spark's own shutdown hook). */
object TempDirs {
  def create(prefix: String): File =
    Utils.createTempDir(System.getProperty("java.io.tmpdir"), prefix)
  def delete(dir: File): Unit = Utils.deleteRecursively(dir)
}
