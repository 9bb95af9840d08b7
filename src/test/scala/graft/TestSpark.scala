package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built with
  * the same engine configuration as the mains. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}
