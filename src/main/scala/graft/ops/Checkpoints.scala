package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** The one materialization choice of the multi-consumer and iterative
  * operators ([[materialize]]: PairJoin.selfPairs, EntityResolution's
  * prefix and containment joins, TextOps.bpeTrain, every graph operator,
  * and SocialPipeline.writeSinks, which runs both `runDaily` and the
  * `SocialStream.runPipeline` refresh), the one fixpoint loop of the
  * iterative graph operators ([[fixpoint]]), and the shared
  * reliable-checkpoint configuration behind both.
  *
  * Executor-local sites (they materialize under `None` only, and their
  * blocks are lost with their executor): the operators without a
  * `checkpointDir` parameter (Components, TreeOps.treeFlatten,
  * GraphAlgos.triangleCounts, Dedup.nearDupClusters), and
  * SocialPipeline.writeSinks, which fills its facts eagerly and
  * [[release]]s them when it returns.
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
    * executor recomputes from it instead of aborting the job
    * (FixpointFaultSpec). `None`: an executor-local checkpoint — the plan
    * is cut to a LogicalRDD at once (bounded optimizer work per fixpoint
    * pass). By default it is LAZY: the partitions persist on the first
    * action over it instead of in a dedicated job (r17), since every
    * fixpoint caller follows it with a census, count or scan that reads
    * every partition anyway. `eager = true` fills every partition in one
    * job before returning, for a frame that several concurrent consumers
    * read: a lazy fill would run inside the consumers' own jobs, whose
    * tasks would all ship the full upstream lineage. A failed fill
    * releases the blocks it had written before rethrowing. Executor-local
    * storage is lost with its executor: a later read of a lost block fails
    * its job instead of recomputing it.
    *
    * The eager fill also sizes its output. Its job sums the `UnsafeRow`
    * bytes of every partition it stores. A frame of at most AQE's own
    * target, `spark.sql.adaptive.advisoryPartitionSizeInBytes`, comes back
    * as `coalesce(1)`; a larger one comes back as filled. The filling
    * itself keeps the upstream plan's parallelism. A one-partition frame
    * plans as `SinglePartition`, so a consumer's aggregate,
    * `dropDuplicates` or union of such frames needs no shuffle. The
    * `LogicalRDD` stays the frame's leaf under at most one
    * `Repartition(1, shuffle = false)`, and the one coalesced task reads
    * the filled blocks like any other reader.
    */
  def materialize[T](ds: Dataset[T], checkpointDir: Option[String],
      eager: Boolean = false): Dataset[T] =
    checkpointDir match {
      case Some(d) =>
        ensureDir(ds.sparkSession.sparkContext, d)
        ds.checkpoint()
      case None =>
        val cut = ds.localCheckpoint(eager = false)
        if (!eager) cut
        else {
          // the job's end marks the RDD checkpointed: its blocks are all there
          val bytes = try fill(cut)
            catch { case e: Throwable => release(cut); throw e }
          val advisory = cut.sparkSession.sessionState.conf
            .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
          if (bytes <= advisory) cut.coalesce(1) else cut
        }
    }

  /** Fills the blocks of `cut`'s one `LogicalRDD` in one job; returns the
    * `UnsafeRow` bytes stored. A physical plan's rows are `UnsafeRow`s, as
    * Spark's own shuffle serializer assumes. */
  private def fill(cut: Dataset[_]): Long =
    cut.sparkSession.sparkContext.runJob(rdds(cut).head,
      (rows: Iterator[InternalRow]) => rows.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum).sum

  /** Drops the executor-local blocks behind a frame that [[materialize]]
    * returned; reading the frame afterwards fails. A reliable checkpoint's
    * files stay where they are.
    */
  def release(ds: Dataset[_]): Unit = rdds(ds).foreach(_.unpersist(blocking = false))

  private def rdds(ds: Dataset[_]) =
    ds.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** Iterate `pass` from `init` to a fixpoint. Every pass's output is
    * cut through [[materialize]], then `settled(prev, next)` runs: it is
    * the first action over the pass output, so under `None` it is also the
    * job that fills the lazy checkpoint — one job per pass (r17). The loop
    * returns the first pass output whose test holds. After `maxPasses`
    * unsettled passes it throws `IllegalStateException("<operator>: not
    * settled after N passes")` when `mustSettle`, else returns the last
    * output (fixed-pass operators whose test is an optional early stop).
    * Scalar carries between passes (a count, a sum) live in the caller's
    * `settled` closure.
    */
  def fixpoint[T](operator: String, init: Dataset[T], maxPasses: Int,
      checkpointDir: Option[String], mustSettle: Boolean = true)(
      pass: Dataset[T] => Dataset[T])(
      settled: (Dataset[T], Dataset[T]) => Boolean): Dataset[T] = {
    @annotation.tailrec
    def run(state: Dataset[T], done: Int): Dataset[T] =
      if (done >= maxPasses) {
        if (mustSettle) throw new IllegalStateException(
          s"$operator: not settled after $maxPasses passes")
        state
      } else {
        val next = materialize(pass(state), checkpointDir)
        if (settled(state, next)) next else run(next, done + 1)
      }
    run(init, 0)
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
