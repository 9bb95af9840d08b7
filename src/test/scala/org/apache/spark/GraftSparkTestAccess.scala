package org.apache.spark

import org.apache.spark.executor.ProcfsMetricsGetter
import org.apache.spark.util.ShutdownHookManager

/** Spark internals the specs read that are package-private to Spark. */
object GraftSparkTestAccess {
  /** Whether Spark's shutdown hook will delete `dir` at JVM exit. */
  def deletedAtExit(dir: String): Boolean =
    ShutdownHookManager.hasShutdownDeleteDir(new java.io.File(dir))

  /** Loads the executor's process-tree metrics reader now. Its one-time
    * page-size probe forks `getconf PAGESIZE`, otherwise on whichever
    * heartbeat comes first. */
  def loadProcfsMetrics(): Unit = ProcfsMetricsGetter.pTreeInfo: Unit
}
