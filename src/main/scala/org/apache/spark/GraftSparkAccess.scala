package org.apache.spark

import org.apache.spark.util.{ShutdownHookManager, Utils}

/** Spark internals that are package-private to Spark. */
object GraftSparkAccess {
  /** The listener bus's drain: profilers need it so listener totals are
    * complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The running SparkContext, if one is up (`SparkContext.getActive`). */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** A fresh directory under the running context's local dir
    * (`spark.local.dir` / `SPARK_LOCAL_DIRS`, else `java.io.tmpdir`), which
    * Spark's shutdown hook deletes recursively at JVM exit. */
  def localTempDir(prefix: String): String =
    Utils.createTempDir(Utils.getLocalDir(SparkEnv.get.conf), prefix).getAbsolutePath

  /** Has Spark's shutdown hook delete `dir` recursively at JVM exit. */
  def deleteAtExit(dir: String): Unit =
    ShutdownHookManager.registerShutdownDeleteDir(new java.io.File(dir))
}
