package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TreeOps
import graft.pipeline.Compaction

class LifecycleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("treeFlatten: deep chain settles in O(log depth) passes") {
    // A single chain 0<-1<-2<-...<-200 plus a second root 1000 with two kids.
    val chain = (0L to 200L).map(i => (i, if (i == 0) None else Some(i - 1)))
    val other = Seq((1000L, None), (1001L, Some(1000L)), (1002L, Some(1000L)))
    val nodes = (chain ++ other).toDF("id", "parent")
    val out = TreeOps.treeFlatten(nodes, "id", "parent", maxIters = 12)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Depth 200 with maxIters=12 is only reachable via pointer doubling
    // (2^12 >> 200); a per-level walk would need 200 passes.
    assert(out(200L) == ((0L, 200L)))
    assert(out(0L) == ((0L, 0L)))
    assert(out(137L) == ((0L, 137L)))
    assert(out(1002L) == ((1000L, 1L)))
    assert(out.size == 204)
  }

  test("treeFlatten: dangling parents settle at the missing ancestor, descendants follow") {
    // Scraped forests hold comments whose parent never landed (deleted
    // upstream). The sf1.0 leg caught the oracle dropping those subtrees
    // while the operator keeps them — this pins the operator contract:
    // root_id = the missing ancestor's id, depth counted from there.
    val nodes = Seq(
      (1L, None),          // true root
      (2L, Some(1L)),      // normal child
      (10L, Some(99L)),    // parent 99 never landed
      (11L, Some(10L)),    // child of the orphan
      (12L, Some(11L))     // grandchild
    ).toDF("id", "parent")
    val out = TreeOps.treeFlatten(nodes, "id", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(2L) == ((1L, 1L)))
    assert(out(10L) == ((99L, 1L)))  // settles AT the missing id, not dropped
    assert(out(11L) == ((99L, 2L)))
    assert(out(12L) == ((99L, 3L)))
    assert(out.size == 5)
  }

  test("treeFlatten: cycle fails loudly instead of returning partial depths") {
    val cyclic = Seq((1L, Some(2L)), (2L, Some(1L)), (3L, None)).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      TreeOps.treeFlatten(cyclic, "id", "parent", maxIters = 6).collect()
    }
    assert(e.getMessage.contains("not settled"))
  }

  test("compactLatestWins: newest row per key survives; untouched partitions keep files") {
    val landing = TestSpark.tempDir("lc_landing_").toString
    val snapshot = TestSpark.tempDir("lc_snap_").toString
    Seq((1L, 10L, "a", 100L), (2L, 10L, "a", 200L), (3L, 10L, "b", 300L))
      .toDF("k", "v", "pt", "x").write.mode("overwrite").parquet(landing)
    // Re-land: key 1 updated at a later version.
    Seq((1L, 20L, "a", 101L))
      .toDF("k", "v", "pt", "x").write.mode("append").parquet(landing)
    val snap = Compaction.compactLatestWins(spark, landing, snapshot,
      keys = Seq("k"), order = Seq(col("v")), partitionCols = Seq("pt"))
    val rows = snap.select("k", "v", "pt", "x").as[(Long, Long, String, Long)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 20L, "a", 101L), (2L, 10L, "a", 200L), (3L, 10L, "b", 300L)))

    // Second compaction touching only pt=a must not clobber pt=b (dynamic
    // partition overwrite: write a marker file into b's dir and re-compact
    // an a-only landing update).
    Seq((1L, 30L, "a", 102L), (2L, 10L, "a", 200L))
      .toDF("k", "v", "pt", "x").write.mode("append").parquet(landing)
    val snap2 = Compaction.compactLatestWins(spark,
      landingDir = landing, snapshotDir = snapshot,
      keys = Seq("k"), order = Seq(col("v")), partitionCols = Seq("pt"))
    val r2 = snap2.select("k", "v").as[(Long, Long)].collect().sortBy(_._1)
    assert(r2.toSeq == Seq((1L, 30L), (2L, 10L), (3L, 10L)))
  }

  test("treeFlatten: dangling parent settles at the break, not silently dropped") {
    // node 2's parent (1) never landed; 3 hangs off 2
    val nodes = Seq((2L, Some(1L)), (3L, Some(2L)), (9L, None)).toDF("id", "parent")
    val out = TreeOps.treeFlatten(nodes, "id", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 1L, 1L), (3L, 1L, 2L), (9L, 9L, 0L)))
  }

  test("merge: update/insert/delete in one pass; unmatched base rows untouched") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("k", "name", "v")
    val changes = Seq(
      (2L, "b2", 21L, false), // UPDATE
      (3L, "c", 30L, true),   // DELETE (values ignored)
      (5L, "e", 50L, false))  // INSERT
      .toDF("k", "name", "v", "del")
    val out = Compaction.merge(base, changes, Seq("k"), deleteCol = Some("del"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((1L, "a", 10L), (2L, "b2", 21L), (4L, "d", 40L),
      (5L, "e", 50L)))
  }

  test("merge: null delete flag means upsert; no deleteCol means pure upsert") {
    val base = Seq((1L, 10L)).toDF("k", "v")
    val nullDel = Seq((1L, 11L, None: Option[Boolean])).toDF("k", "v", "del")
    val a = Compaction.merge(base, nullDel, Seq("k"), deleteCol = Some("del"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == Set((1L, 11L)))
    val b = Compaction.merge(base, Seq((1L, 12L)).toDF("k", "v"), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b == Set((1L, 12L)))
  }

  test("merge strict: duplicate change keys raise; changeOrder makes them legal") {
    val base = Seq((1L, 10L)).toDF("k", "v")
    val dups = Seq((1L, 11L), (1L, 12L)).toDF("k", "v")
    val ex = intercept[IllegalArgumentException] {
      Compaction.merge(base, dups, Seq("k"), strict = true)
    }
    assert(ex.getMessage.contains("changeOrder"))
    // With a tie-break order the same batch merges deterministically.
    val out = Compaction.merge(base, dups, Seq("k"),
      changeOrder = Seq(col("v")), strict = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 12L)))
    // Strict with unique keys is a plain merge.
    val ok = Compaction.merge(base, Seq((1L, 13L)).toDF("k", "v"),
      Seq("k"), strict = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set((1L, 13L)))
  }

  test("compactWithManifest: pruned read over the fresh manifest stays exact") {
    import graft.sources.DataSkipping
    val landing = TestSpark.tempDir("cm_landing_").toString
    val snapshot = TestSpark.tempDir("cm_snap_").toString
    val manifest = TestSpark.tempDir("cm_manifest_").toString + "/m"
    Seq((1L, 1L, 100L), (2L, 1L, 250L), (3L, 1L, 900L))
      .toDF("k", "v", "x").write.mode("overwrite").parquet(landing)
    Compaction.compactWithManifest(spark, landing, snapshot, manifest,
      keys = Seq("k"), order = Seq(col("v")), statCol = "x")
    val m1 = DataSkipping.readManifest(spark, manifest)
    val pruned1 = DataSkipping.prunedRead(spark, snapshot, m1, "x", 0L, 300L)
      .select("k").as[Long].collect().sorted
    assert(pruned1.toSeq == Seq(1L, 2L))

    // Re-land an update that moves key 2 out of range and re-compact: the
    // manifest must describe the NEW snapshot files, not the old ones.
    Seq((2L, 2L, 950L)).toDF("k", "v", "x")
      .write.mode("append").parquet(landing)
    Compaction.compactWithManifest(spark, landing, snapshot, manifest,
      keys = Seq("k"), order = Seq(col("v")), statCol = "x")
    val m2 = DataSkipping.readManifest(spark, manifest)
    // the pointer flipped, the PREVIOUS version is retained for in-flight
    // readers (grace window), and nothing older survives
    val versions = new java.io.File(manifest).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
    assert(versions.length == 2)
    // the reader that resolved CURRENT before the flip still works
    assert(m1.count() >= 1)
    val pruned2 = DataSkipping.prunedRead(spark, snapshot, m2, "x", 0L, 300L)
      .select("k").as[Long].collect().sorted
    assert(pruned2.toSeq == Seq(1L))
    val full = DataSkipping.prunedRead(spark, snapshot, m2, "x", 0L, 1000L)
      .select("k", "x").as[(Long, Long)].collect().toSet
    assert(full == Set((1L, 100L), (2L, 950L), (3L, 900L)))
  }

  test("publishManifest: a concurrent publisher loses loudly; the pointer never dangles") {
    import graft.sources.DataSkipping
    val data = TestSpark.tempDir("race_data_").toString
    val manifest = TestSpark.tempDir("race_manifest_").toString + "/m"
    Seq((1L, 100L), (2L, 200L)).toDF("k", "x")
      .write.mode("overwrite").parquet(data)
    DataSkipping.publishManifest(spark, data, manifest, "x")
    val current = new java.io.File(manifest, "CURRENT")
    val v1 = Files.readString(current.toPath).trim

    // A LIVE publisher holds the create-exclusive lock: the second
    // publisher must fail loudly and leave CURRENT exactly as it was.
    val lock = new java.io.File(manifest, "LOCK")
    Files.writeString(lock.toPath, "v-other")
    val ex = intercept[IllegalStateException] {
      DataSkipping.publishManifest(spark, data, manifest, "x")
    }
    assert(ex.getMessage.contains("concurrent publisher"))
    assert(Files.readString(current.toPath).trim == v1)
    assert(DataSkipping.readManifest(spark, manifest).count() >= 1)

    // A lock orphaned by a CRASHED publisher (older than the grace
    // window) is broken and the publish proceeds, flipping the pointer.
    assert(lock.setLastModified(System.currentTimeMillis() - 11L * 60L * 1000L))
    DataSkipping.publishManifest(spark, data, manifest, "x")
    assert(Files.readString(current.toPath).trim != v1)
    assert(!lock.exists(), "winner must release the lock")
    assert(DataSkipping.readManifest(spark, manifest).count() >= 1)

    // Non-local manifest URIs fail fast instead of mis-resolving.
    intercept[IllegalArgumentException] {
      DataSkipping.publishManifest(spark, data, "hdfs://nn/manifest", "x")
    }
  }

  test("time travel: readTableAsOf reproduces the pre-append snapshot exactly") {
    import graft.sources.DataSkipping
    val data = TestSpark.tempDir("tt_data_").toString
    val manifest = TestSpark.tempDir("tt_manifest_").toString + "/m"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "x")
      .write.mode("overwrite").parquet(data)
    val v1 = DataSkipping.publishManifest(spark, data, manifest, "x")
    Seq((3L, 30L)).toDF("k", "x").write.mode("append").parquet(data)
    val v2 = DataSkipping.publishManifest(spark, data, manifest, "x")
    assert(v1 != v2)
    // as-of v1 must NOT see the appended row; as-of v2 must.
    def rows(v: String): Set[(Long, Long)] =
      DataSkipping.readTableAsOf(spark, manifest, v)
        .select("k", "x").as[(Long, Long)].collect().toSet
    assert(rows(v1) == Set((1L, 10L), (2L, 20L)))
    assert(rows(v2) == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // a pruned-past-retention (or never-published) version fails loudly
    intercept[java.io.FileNotFoundException] {
      DataSkipping.readManifestAt(spark, manifest, "v-nonexistent")
    }
  }

  test("tableDiff: added/removed/changed classification, null-safe values") {
    import graft.pipeline.Compaction
    val before = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, None: Option[String], 30L), (4L, Some("d"), 40L))
      .toDF("k", "name", "v")
    val after = Seq((2L, Some("b"), 21L), (3L, None: Option[String], 30L),
      (4L, None: Option[String], 40L), (5L, Some("e"), 50L))
      .toDF("k", "name", "v")
    val out = Compaction.tableDiff(before, after, Seq("k"), Seq("name", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // 1 removed, 2 changed (v), 3 unchanged (null == null), 4 changed
    // (name d -> null), 5 added
    assert(out == Map(1L -> "removed", 2L -> "changed", 4L -> "changed",
      5L -> "added"))
  }
}
