package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping via an explicit min/max stats manifest — the
  * table-format half of what [[Layout.writeClustered]] sets up: clustering
  * makes per-file key ranges disjoint; the manifest makes them *visible to
  * planning* without opening a single parquet footer.
  *
  * This is the Delta/Iceberg "file statistics in the transaction log"
  * pattern over plain directories: one manifest row per data file holding
  * `min(col)`/`max(col)`. A range query consults the manifest first and
  * hands Spark only the overlapping files — at 100 TB with a clustered
  * layout, a point/range query plans in manifest-scan time (one row per
  * file, thousands of rows) and reads a handful of files instead of
  * listing and footer-probing the whole table. The manifest path collects
  * the surviving file list on the driver, which is exactly what Spark's
  * own `InMemoryFileIndex` does with EVERY file path — this one is
  * strictly smaller (post-pruning survivors only).
  *
  * Exactness: pruning uses the closed interval `[min, max]` per file, so
  * a file is skipped only when it provably holds no matching row; the
  * exact predicate is re-applied to the surviving rows, making the result
  * identical to the unpruned scan for any predicate.
  */
object DataSkipping {

  /** Build the stats manifest for the parquet files under `dir`: one row
    * per file with min/max of `statCol`. One distributed scan of the
    * stat column only (column-pruned), one partial-aggregable min/max per
    * file — rerun after layout changes (compaction owns this in a real
    * pipeline).
    */
  def buildManifest(spark: SparkSession, dir: String, statCol: String): DataFrame =
    spark.read.parquet(dir)
      .select(input_file_name().as("file"), col(statCol))
      .groupBy(col("file"))
      .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"))

  /** Read only the files whose `[min_v, max_v]` interval intersects
    * `[lo, hi]`, then re-apply the exact range predicate. `manifest` is
    * typically the persisted output of [[buildManifest]] read back — the
    * collect here is the pruned file list (≤ one string per surviving
    * file). Returns an empty, correctly-typed frame when nothing
    * survives.
    */
  def prunedRead(spark: SparkSession, dir: String, manifest: DataFrame,
                 statCol: String, lo: Long, hi: Long): DataFrame = {
    val files = manifest
      .filter(col("max_v") >= lo && col("min_v") <= hi)
      .select(col("file")).collect().map(r => globSafe(r.getString(0)))
    val base =
      if (files.isEmpty)
        spark.read.parquet(dir).limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** Incremental manifest maintenance for an append-only table: stat
    * only the files the manifest hasn't seen, drop rows for files that
    * vanished (compaction), keep everything else verbatim — the nightly
    * landing-zone shape where rescanning years of history to re-derive
    * unchanged min/max rows is the read-time tax this module exists to
    * kill. One FS listing (driver, one row per file — the same artifact
    * Spark's own file index holds) decides the delta; the only
    * distributed work is the scan of NEW files.
    */
  def updateManifest(spark: SparkSession, dir: String, oldManifest: DataFrame,
                     statCol: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    // `input_file_name()` URIs (file:///x) and FS-listing paths (file:/x)
    // spell the same file differently — compare on the scheme-free path
    // or the delta silently degenerates to a full rescan.
    def norm(p: String): String = new Path(p).toUri.getPath
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: buildManifest/prunedRead go through
    // spark.read.parquet(dir), which also resolves partitioned
    // (nested-directory) layouts — a flat listStatus on such a layout
    // would see zero live files and silently empty the manifest
    // (ADVICE r6). Directory-level dot/underscore filtering matches
    // Spark's own InMemoryFileIndex visibility rules. The walk uses
    // listStatus, not listFiles: listFiles' LocatedFileStatus loads every
    // file's permission, which the local filesystem forks `ls -ld` for.
    val rootPath = fs.makeQualified(new Path(dir))
    def walk(d: Path): Iterator[Path] = fs.listStatus(d).iterator.flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Iterator(s.getPath))
    val liveBuf = Seq.newBuilder[String]
    walk(rootPath).foreach { p =>
      // hidden if any component BELOW the listing root is dotted or
      // underscored (the root itself may legitimately be, e.g. /a/.cache)
      val hidden = Iterator.iterate(p)(_.getParent)
        .takeWhile(q => q != null && q != rootPath)
        .map(_.getName)
        .exists(n => n.startsWith("_") || n.startsWith("."))
      if (p.getName.endsWith(".parquet") && !hidden) liveBuf += p.toString
    }
    val live = liveBuf.result()
    val liveNorm = live.map(norm).toSet
    require(live.nonEmpty || oldManifest.isEmpty,
      s"updateManifest found no live parquet files under $dir but the old " +
        "manifest is non-empty — refusing to silently empty the manifest " +
        "(wrong dir, or the table moved?)")
    // the manifest is one (path, min, max) row per file — the same
    // bounded driver artifact as the FS listing itself
    val oldRows = oldManifest.select(col("file"), col("min_v"), col("max_v"))
      .collect()
    val knownNorm = oldRows.map(r => norm(r.getString(0))).toSet
    val fresh = live.filterNot(p => knownNorm.contains(norm(p))).sorted
    val keptRows = oldRows.filter(r => liveNorm.contains(norm(r.getString(0))))
    val kept = spark.createDataFrame(
      java.util.Arrays.asList(keptRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType),
        oldManifest.schema("min_v"), oldManifest.schema("max_v"))))
    if (fresh.isEmpty) kept
    else kept.unionByName(
      spark.read.parquet(fresh: _*)
        .select(input_file_name().as("file"), col(statCol))
        .groupBy(col("file"))
        .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v")))
  }

  /** Per-file BLOOM index — the point-lookup complement of min/max
    * skipping: min/max prunes only when the layout CLUSTERS the probe
    * column; a bloom per file prunes point lookups on any
    * high-cardinality column regardless of layout (the Delta "bloom
    * filter index" pattern). One distributed scan, one partial-aggregable
    * bloom per file ([[graft.functions.BloomAgg]] — built map-side,
    * OR-merged), emitted as a (file, bloom) manifest frame to persist
    * next to the min/max manifest.
    *
    * Size `expectedPerFile` to the real per-file row count: an undersized
    * filter saturates and stops pruning (it never lies — false positives
    * only — it just reads more files).
    */
  def buildBloomManifest(spark: SparkSession, dir: String, keyCol: String,
                         expectedPerFile: Long = 100000L,
                         fpp: Double = 0.01): DataFrame =
    spark.read.parquet(dir)
      .select(input_file_name().as("file"), col(keyCol).cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("file"))
      .agg(graft.functions.BloomAgg.bloom(expectedPerFile, fpp)(col("k"))
        .as("bloom"))

  /** Read only the files whose bloom might contain ANY of `keys`, then
    * re-apply the exact membership predicate — identical results to the
    * full scan for any key set (blooms have no false negatives). The
    * membership probes run DISTRIBUTED over the manifest (a kernel, not
    * a driver loop over blooms — at 1e5 files × ~100 KiB of bits the
    * manifest is executor data); only the surviving file NAMES land on
    * the driver, the same bounded artifact [[prunedRead]] collects.
    */
  def bloomPrunedRead(spark: SparkSession, dir: String, bloomManifest: DataFrame,
                      keyCol: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "bloomPrunedRead needs at least one probe key")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    implicit val enc = Encoders.row(StructType(Seq(
      StructField("file", StringType))))
    val probe = keys.toArray
    val files = bloomManifest.select(col("file"), col("bloom"))
      .mapPartitions { it =>
        it.flatMap { r =>
          // Deserialize the filter ONCE per file row, then probe all
          // keys against the instance — per-probe readFrom re-parses a
          // ~100 KiB byte image |keys| times per row (ADVICE r6).
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          if (probe.exists(bf.mightContainLong))
            Iterator(Row(r.getString(0)))
          else Iterator.empty
        }
      }.collect().map(r => globSafe(r.getString(0)))
    val base =
      if (files.isEmpty) spark.read.parquet(dir).limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** Build the manifest for `dataDir` and publish it at `manifestDir`
    * via a POINTER FLIP — the actual metastore/table-format protocol, not
    * a directory swap: the new manifest lands as an immutable versioned
    * subdirectory (`v-<id>/`), and a one-line `CURRENT` file naming the
    * active version is replaced with an atomic rename. A reader that
    * races the publish reads CURRENT (atomically old or new — there is
    * no window where it is absent or half-written) and then an immutable
    * version directory; a crash at ANY point leaves either the old
    * manifest fully live or the new one, plus at worst an unreferenced
    * version directory that the next publish prunes. The previous
    * version is retained for one publish cycle so an in-flight reader
    * holding the old CURRENT still finds its files. Every writer that
    * rewrites a file layout must republish through here — a stale
    * manifest lists dead files.
    *
    * CONCURRENCY: the pointer-flip critical section is guarded by a
    * create-exclusive `LOCK` file — the commit-lock half of what real
    * table formats do. A second publisher racing a live one fails
    * LOUDLY (`IllegalStateException`) with CURRENT untouched; a lock
    * orphaned by a crashed publisher is broken after the grace window.
    * The manifest build itself runs unlocked (each publisher writes an
    * immutable, uniquely-named version dir), so the lock is held only
    * for the read-prev/flip/prune tail. Readers are always safe. As
    * defense in depth, pruning only touches versions (and orphaned
    * CURRENT tmp files) older than the grace window, so even a
    * lock-broken publisher's just-written version is never deleted out
    * from under its pointer flip.
    */
  def publishManifest(spark: SparkSession, dataDir: String,
                      manifestDir: String, statCol: String): String = {
    // Pointer flip + lock are java.nio local-filesystem operations; a
    // hdfs:// or s3a:// manifestDir would silently resolve as a relative
    // local path and void the atomicity guarantee. Fail fast instead.
    require(!manifestDir.contains("://"),
      s"publishManifest requires a local-filesystem manifestDir (atomic " +
        s"rename + create-exclusive lock are POSIX-local); got $manifestDir")
    val root = new java.io.File(manifestDir)
    if (!root.isDirectory && !root.mkdirs())
      throw new java.io.IOException(s"could not create manifest root $manifestDir")
    val version = "v-" + java.util.UUID.randomUUID().toString.take(12)
    buildManifest(spark, dataDir, statCol)
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(root, version).toString)
    val lock = acquireLock(root, version)
    try {
      val prev = currentVersion(root)
      val tmp = new java.io.File(root, s".CURRENT.tmp-$version")
      java.nio.file.Files.writeString(tmp.toPath, version)
      // REPLACE_EXISTING rides along: ATOMIC_MOVE alone leaves
      // replace-on-exists implementation-specific per the javadoc (POSIX
      // rename replaces, other providers may throw), and every publish
      // after the first moves onto an existing CURRENT.
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(root, "CURRENT").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // Prune stale state: versions other than the live one and its
      // predecessor (grace for readers that resolved CURRENT just before
      // the flip), plus CURRENT tmp files orphaned by a publisher that
      // crashed between write and flip. Both prunes honor the age window.
      val keep = Set(version) ++ prev
      val cutoff = System.currentTimeMillis() - graceMs
      Option(root.listFiles()).foreach(_.foreach { f =>
        val stale = f.lastModified() < cutoff
        if (f.isDirectory && f.getName.startsWith("v-") && !keep(f.getName) && stale)
          deleteRecursive(f)
        else if (f.isFile && f.getName.startsWith(".CURRENT.tmp-") && stale)
          f.delete(): Unit
      })
    } finally lock.delete(): Unit
    version
  }

  /** Age beyond which crashed-publisher debris (orphan version dirs, tmp
    * pointers, the commit lock itself) is considered abandoned.
    */
  private val graceMs = 10L * 60L * 1000L

  /** Acquire the create-exclusive commit lock, writing the acquiring
    * version id as the lock body for diagnostics. `CREATE_NEW` is the
    * atomic test-and-set: exactly one racing publisher wins. A lock
    * older than [[graceMs]] belongs to a crashed publisher and is broken
    * (one attempt); a fresh lock means a LIVE concurrent publisher — the
    * loser throws with CURRENT untouched rather than risking a flip over
    * the winner's.
    */
  private def acquireLock(root: java.io.File, version: String): java.io.File = {
    val lock = new java.io.File(root, "LOCK")
    def tryCreate(): Boolean =
      try {
        java.nio.file.Files.writeString(lock.toPath, version,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!tryCreate()) {
      val mtime = lock.lastModified() // 0 if deleted since — retry covers it
      val stale = mtime < System.currentTimeMillis() - graceMs
      if (stale) lock.delete()
      if (!stale || !tryCreate())
        throw new IllegalStateException(
          s"concurrent publisher holds $lock (held by version " +
            s"${try java.nio.file.Files.readString(lock.toPath).trim
               catch { case _: Exception => "<unreadable>" }}) — " +
            "one publisher at a time per manifestDir")
    }
    lock
  }

  /** Resolve and read the CURRENT manifest published by
    * [[publishManifest]].
    */
  def readManifest(spark: SparkSession, manifestDir: String): DataFrame = {
    require(!manifestDir.contains("://"),
      s"readManifest resolves CURRENT via the local filesystem; got $manifestDir")
    val root = new java.io.File(manifestDir)
    val v = currentVersion(root).getOrElse(throw new java.io.FileNotFoundException(
      s"no CURRENT manifest under $manifestDir — was publishManifest ever run?"))
    spark.read.parquet(new java.io.File(root, v).toString)
  }

  /** Read a SPECIFIC manifest version — the time-travel half of the
    * snapshot-log pattern. Version dirs are immutable once written, so
    * any retained version reproduces its table state exactly; versions
    * live until the prune (the live one + its predecessor are always
    * kept, older ones for the grace window). A production deployment
    * turns the grace window into its retention policy (Delta's
    * `VACUUM`-horizon); the PROTOCOL is identical.
    */
  def readManifestAt(spark: SparkSession, manifestDir: String,
                     version: String): DataFrame = {
    require(!manifestDir.contains("://"),
      s"readManifestAt resolves versions via the local filesystem; got $manifestDir")
    val d = new java.io.File(new java.io.File(manifestDir), version)
    if (!d.isDirectory) throw new java.io.FileNotFoundException(
      s"manifest version $version not found under $manifestDir — " +
        "pruned past retention, or never published")
    spark.read.parquet(d.toString)
  }

  /** Time-travel table read: the table AS OF a manifest version is
    * exactly the files that version lists — data files are immutable and
    * append-only between compactions, so an old manifest IS an old
    * snapshot. The file list is the same bounded driver artifact
    * [[prunedRead]] collects (one row per file). Combine with a range
    * predicate by filtering the returned frame; pruning still applies
    * through the parquet scan's own pushdown.
    */
  def readTableAsOf(spark: SparkSession, manifestDir: String,
                    version: String): DataFrame = {
    val files = readManifestAt(spark, manifestDir, version)
      .select(col("file")).collect().map(r => globSafe(r.getString(0)))
    require(files.nonEmpty, s"manifest version $version lists no files")
    spark.read.parquet(files.toIndexedSeq: _*)
  }

  private def currentVersion(root: java.io.File): Option[String] = {
    val c = new java.io.File(root, "CURRENT")
    if (c.isFile) Some(java.nio.file.Files.readString(c.toPath).trim) else None
  }

  private def deleteRecursive(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursive))
    f.delete(): Unit
  }

  /** `input_file_name()` yields percent-ENCODED URIs, while
    * `spark.read.parquet(paths)` treats each string as a GLOB pattern —
    * a file named `a b[1].parquet` would round-trip as `a%20b[1].parquet`
    * and then match nothing (or the wrong file). Decode the URI, then
    * backslash-escape Hadoop's glob metacharacters so the re-read matches
    * the surviving files literally.
    */
  private[graft] def globSafe(fileUri: String): String = {
    val decoded =
      try {
        val u = new java.net.URI(fileUri)
        if (u.getScheme == null) fileUri
        else u.getScheme + "://" + Option(u.getAuthority).getOrElse("") + u.getPath
      } catch { case _: java.net.URISyntaxException => fileUri }
    decoded.replaceAll("""([\[\]{}*?\\])""", """\\$1""")
  }
}
