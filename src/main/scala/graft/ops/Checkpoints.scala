package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset

/** The one materialization choice of the multi-consumer and iterative
  * operators that take a `checkpointDir` ([[materialize]]: PairJoin.selfPairs,
  * EntityResolution's prefix and containment joins, TextOps.bpeTrain and the
  * GraphAlgos fixpoints), and the shared reliable-checkpoint configuration
  * behind it.
  *
  * `SparkContext.setCheckpointDir` is global mutable state: two concurrent
  * library calls passing different dirs would race, and re-setting it per
  * iteration creates a fresh UUID subdirectory every round. So the rule is
  * set-once: the first caller wins, later callers requesting a different
  * dir fail fast with a clear message instead of silently redirecting
  * someone else's in-flight checkpoints. (Spark appends a random UUID
  * child to the configured path, so equality is prefix-based.)
  */
object Checkpoints {

  /** Materialize `ds` once. `Some(dir)`: a RELIABLE checkpoint under `dir`
    * (a distributed-FS root on a cluster), written eagerly, so a lost
    * executor recomputes from it instead of aborting the job (FIXPOINT_LOSS_r16,
    * FixpointFaultSpec). `None`: a LAZY executor-local checkpoint — the plan
    * is cut to a LogicalRDD at once (bounded optimizer work per fixpoint
    * pass), but the partitions persist on the first action over it instead
    * of in a dedicated job (r17): every caller follows it with a census,
    * count or scan that reads every partition anyway. Executor-local
    * storage is lost with its executor.
    */
  def materialize[T](ds: Dataset[T], checkpointDir: Option[String]): Dataset[T] =
    checkpointDir match {
      case Some(d) =>
        ensureDir(ds.sparkSession.sparkContext, d)
        ds.checkpoint()
      case None => ds.localCheckpoint(eager = false)
    }

  def ensureDir(sc: SparkContext, dir: String): Unit = synchronized {
    sc.getCheckpointDir match {
      case None => sc.setCheckpointDir(dir)
      case Some(existing) =>
        require(compatible(existing, dir, sc.hadoopConfiguration),
          s"SparkContext checkpoint dir already set to '$existing'; " +
            s"refusing to redirect it to '$dir' mid-session — pick one " +
            "checkpoint root per application")
    }
  }

  /** Whether the already-set checkpoint dir `existing` (Hadoop-qualified,
    * possibly with Spark's UUID child appended) lives under the requested
    * root `dir`. Scheme-less paths are qualified against the default
    * filesystem exactly as `setCheckpointDir` would; then scheme,
    * authority, and path prefix must all agree. The earlier form stripped
    * the scheme before comparing, so 'hdfs:/ckpt' vs a requested
    * 'file:/ckpt' — two different filesystems — passed silently.
    */
  private[graft] def compatible(existing: String, dir: String,
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    def qualify(p: String): java.net.URI = {
      val path = new org.apache.hadoop.fs.Path(p)
      val u = path.toUri
      if (u.getScheme != null) u
      else {
        // only a scheme-less path needs the default filesystem; an
        // explicit-scheme URI is compared as written (no fs class load)
        val fs = path.getFileSystem(conf)
        path.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
      }
    }
    val (have, want) = (qualify(existing), qualify(dir))
    def nPath(u: java.net.URI) =
      u.getPath.replaceAll("/+", "/").stripSuffix("/")
    val (hp, wp) = (nPath(have), nPath(want))
    have.getScheme == want.getScheme &&
      Option(have.getAuthority) == Option(want.getAuthority) &&
      (hp == wp || hp.startsWith(wp + "/"))
  }
}
