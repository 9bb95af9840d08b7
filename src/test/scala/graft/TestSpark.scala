package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built with
  * the same engine configuration as the mains. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)

  /** A fresh scratch dir in `java.io.tmpdir` that Spark's shutdown hook
    * deletes at JVM exit. It keeps a short path on purpose: PlanAuditSpec
    * finds scans by path in plan strings, which abbreviate at 100 chars. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    org.apache.spark.GraftSparkAccess.deleteAtExit(d.toString)
    d
  }
}

/** The `faults` group's session: `local[4, 3]`, so a task that dies on
  * purpose is retried instead of failing its job. build.sbt runs every
  * `*FaultSpec` in its own JVM, because one JVM holds one SparkContext and
  * `TestSpark`'s `local[4]` has no retries. */
object FaultSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(cpus = 4, taskMaxFailures = 3)
    s.sparkContext.setLogLevel("ERROR") // planted failures log stack traces at WARN
    s
  }

  /** Fails a fault suite up front when it runs in a JVM without retries,
    * instead of letting its first planted failure abort a job. */
  def requireFaultsGroup(): Unit =
    assert(spark.sparkContext.master == "local[4, 3]",
      s"master is ${spark.sparkContext.master}: a *FaultSpec needs task retries " +
        "and must run in the `faults` test group (build.sbt), not with TestSpark")
}
