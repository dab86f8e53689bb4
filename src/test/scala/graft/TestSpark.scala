package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all ScalaTest suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
