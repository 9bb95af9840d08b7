package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Layout

/** Clustered layout = selective scans: a point predicate on the cluster
  * key finds its rows concentrated in one file, where a hash-shuffled
  * layout smears them over every file.
  */
class LayoutSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def filesWithHits(path: String, key: Long): Long =
    spark.read.parquet(path).filter($"user_id" === key)
      .select(input_file_name()).distinct().count()

  test("range-clustered write concentrates a key in one file; hash layout smears it") {
    val df = (1L to 20000L).map(i => (i, i % 40, s"payload$i"))
      .toDF("event_id", "user_id", "payload")

    val clustered = TestSpark.tempDir("layout_clustered_").toString
    Layout.writeClustered(df, clustered, Seq("user_id", "event_id"), files = 8)
    val smeared = TestSpark.tempDir("layout_smeared_").toString
    df.repartition(8, $"event_id").write.mode("overwrite").parquet(smeared)

    // a range boundary can fall inside a key's run, so allow 2 adjacent
    // files — the point is concentration, not exact alignment
    assert(filesWithHits(clustered, 7L) <= 2L,
      "cluster key 7 should live in at most two adjacent range files")
    assert(filesWithHits(smeared, 7L) == 8L,
      "hash-by-other-key layout should smear key 7 over all files")
    // same rows either way
    assert(spark.read.parquet(clustered).count() == 20000L)
  }

  test("z-order prunes on BOTH dimensions; lexicographic prunes only the first") {
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")

    val zdir = TestSpark.tempDir("layout_z_").toString
    Layout.writeZOrdered(grid, zdir, "x", "y", bits = 6, files = 16)
    val lexdir = TestSpark.tempDir("layout_lex_").toString
    Layout.writeClustered(grid, lexdir, Seq("x", "y"), files = 16)

    def hits(path: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(cond)
        .select(input_file_name()).distinct().count()

    // x-range: both layouts prune
    assert(hits(zdir, $"x".between(8, 15)) <= 8)
    assert(hits(lexdir, $"x".between(8, 15)) <= 8)
    // y-range: lexicographic smears y across every file; Z keeps it local
    val zY = hits(zdir, $"y".between(8, 15))
    val lexY = hits(lexdir, $"y".between(8, 15))
    assert(lexY == 16, s"expected y-range to touch all lex files, got $lexY")
    assert(zY <= 8, s"z layout should localize the y range, touched $zY files")
    // same rows either way
    assert(spark.read.parquet(zdir).count() == 64 * 64)
  }

  test("zValue2 interleaves bits (locality-preserving Morton codes)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L), (3L, 3L))
      .toDF("a", "b")
    val z = df.select(Layout.zValue2($"a", $"b", 2).as("z")).as[Long].collect()
    assert(z.toSeq == Seq(0L, 1L, 2L, 3L, 4L, 15L))
  }

  test("rows are sorted within each clustered file (monotone row groups)") {
    val df = (1L to 5000L).map(i => ((i * 7919) % 5000, i)).toDF("user_id", "event_id")
    val dir = TestSpark.tempDir("layout_sorted_").toString
    Layout.writeClustered(df, dir, Seq("user_id"), files = 4)
    val violations = spark.read.parquet(dir)
      .withColumn("file", input_file_name())
      .withColumn("prev", lag($"user_id", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"file")
          .orderBy(monotonically_increasing_id())))
      .filter($"prev".isNotNull && $"prev" > $"user_id")
    assert(violations.count() == 0)
  }

  test("compactBySize: many tiny files collapse into the target count, rows intact") {
    import graft.sources.Layout
    val in = TestSpark.tempDir("layout_tiny_").toString
    val out = TestSpark.tempDir("layout_compact_").toString
    // 40 single-row files — the 15-minute-drop landing shape
    (1L to 40L).map(i => (i, s"payload$i")).toDF("id", "v")
      .repartition(40).write.mode("overwrite").parquet(in)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    // AQE may coalesce the 40-way round-robin somewhat; "many" suffices
    assert(parquetFiles(in) >= 20)
    // target = total bytes / 4 → ~4 output files
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(in), spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(new org.apache.hadoop.fs.Path(in)).getLength
    val n = Layout.compactBySize(spark, in, out, targetBytes = total / 4 + 1)
    assert(n == 4 && parquetFiles(out) == 4)
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      (1L to 40L).map(i => (i, s"payload$i")).toSet)
    // a target larger than the input collapses to one file
    val out1 = TestSpark.tempDir("layout_one_").toString
    assert(Layout.compactBySize(spark, in, out1, targetBytes = Long.MaxValue) == 1)
    assert(parquetFiles(out1) == 1)
    // in-place compaction is rejected: the parquet read is lazy, so an
    // Overwrite onto the input directory would delete it mid-scan
    intercept[IllegalArgumentException] {
      Layout.compactBySize(spark, in, in, targetBytes = 1024L)
    }
    // ...including when the same directory is spelled differently
    intercept[IllegalArgumentException] {
      Layout.compactBySize(spark, in, in + "/", targetBytes = 1024L)
    }
  }

  test("compactClustered: one rewrite compacts, re-clusters, and republishes the manifest") {
    import graft.sources.{DataSkipping, Layout}
    val in = TestSpark.tempDir("layout_cc_in_").toString
    val out = TestSpark.tempDir("layout_cc_").toString + "/t"
    val manifest = out + "_manifest"
    // 4096 rows over two uniform 0..63 dims, scattered across 32 files
    val rows = (0L until 4096L)
      .map(i => (i, i % 64, (i * 7) % 64))
    rows.toDF("id", "a", "b")
      .repartition(32).write.mode("overwrite").parquet(in)
    val fsIn = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(in), spark.sparkContext.hadoopConfiguration)
    val total = fsIn.getContentSummary(new org.apache.hadoop.fs.Path(in)).getLength
    val n = Layout.compactClustered(spark, in, out,
      targetBytes = total / 4 + 1, // → 4 clustered files from 32 tiny ones
      aCol = "a", bCol = "b", bits = 6, manifestDir = manifest, statCol = "a")
    assert(n >= 2, "compaction produced a single file — clustering untestable")
    // manifest describes exactly the files written, atomically published
    val m = DataSkipping.readManifest(spark, manifest)
    assert(m.count() == n)
    // clustering: a narrow range on the stat dim must PRUNE files...
    val survivors = m.filter($"max_v" >= 0L && $"min_v" <= 15L).count()
    assert(survivors < n, s"no file pruned: $survivors of $n survive a/64 range")
    // ...and the pruned read stays exact
    val got = DataSkipping.prunedRead(spark, out, m, "a", 0L, 15L)
      .select($"id").as[Long].collect().toSet
    assert(got == rows.filter(r => r._2 <= 15).map(_._1).toSet)
    // in-place rewrite rejected, same contract as compactBySize
    intercept[IllegalArgumentException] {
      Layout.compactClustered(spark, in, in, 1024L, "a", "b", 6, manifest, "a")
    }
  }

  test("bloom manifest prunes point lookups the min/max manifest cannot") {
    import graft.sources.{DataSkipping, Layout}
    val out = TestSpark.tempDir("layout_bloom_").toString + "/t"
    // layout clusters on grp, so each file's id min/max spans ~everything
    val rows = (0L until 4096L).map(i => (i, i % 8))
    Layout.writeClustered(rows.toDF("id", "grp"), out, Seq("grp"), files = 8)
    val minmax = DataSkipping.buildManifest(spark, out, "id")
    val nFiles = minmax.count()
    assert(nFiles >= 4, "fixture degenerated to too few files")
    // min/max is blind here: a point id intersects (almost) every file
    val mmSurvivors =
      minmax.filter($"max_v" >= 777L && $"min_v" <= 777L).count()
    assert(mmSurvivors >= nFiles - 1,
      s"fixture broken: min/max pruned a grp-clustered layout ($mmSurvivors/$nFiles)")
    // the bloom prunes to ~the one file holding the key (fpp=0.01 slack)
    val bm = DataSkipping.buildBloomManifest(spark, out, "id",
      expectedPerFile = 1024, fpp = 0.01)
    assert(bm.count() == nFiles)
    val bloomSurvivors = bm.select($"bloom").as[Array[Byte]].collect()
      .count(b => graft.functions.BloomAgg.mightContain(b, 777L))
    assert(bloomSurvivors < nFiles / 2,
      s"bloom pruned nothing: $bloomSurvivors of $nFiles files survive")
    // no false negatives: the pruned read returns exactly the full answer
    val got = DataSkipping.bloomPrunedRead(spark, out, bm, "id",
        Seq(777L, 1234L, 4000L))
      .select($"id").as[Long].collect().toSet
    assert(got == Set(777L, 1234L, 4000L))
    // empty probe rejected; absent keys return empty, not error
    intercept[IllegalArgumentException] {
      DataSkipping.bloomPrunedRead(spark, out, bm, "id", Nil)
    }
    assert(DataSkipping.bloomPrunedRead(spark, out, bm, "id", Seq(999999L))
      .count() == 0L)
  }

  test("updateManifest stats only NEW files and drops vanished ones") {
    import graft.sources.DataSkipping
    val dir = TestSpark.tempDir("layout_incr_").toString
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val m0 = DataSkipping.buildManifest(spark, dir, "v")
    val m0Rows = m0.collect()
    assert(m0Rows.length == 4)
    // append two more files
    (100L until 150L).map(i => (i, i)).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(dir)
    val m1 = DataSkipping.updateManifest(spark, dir, m0, "v")
    // the incremental scan's plan touches ONLY the two fresh files
    assert(m1.inputFiles.length == 2,
      s"incremental update rescanned ${m1.inputFiles.length} files, expected 2")
    val m1Rows = m1.collect()
    assert(m1Rows.length == 6)
    // old rows survive verbatim (same file → same stats object)
    val oldByFile = m0Rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    m1Rows.filter(r => oldByFile.contains(r.getString(0))).foreach { r =>
      assert(oldByFile(r.getString(0)) == ((r.getLong(1), r.getLong(2))))
    }
    // the updated manifest prunes and stays exact over the grown table
    val got = DataSkipping.prunedRead(spark, dir, m1, "v", 120L, 130L)
      .select($"id").as[Long].collect().toSet
    assert(got == (120L to 130L).toSet)
    // a vanished file's row is dropped, not kept as a dangling pointer
    val victim = new java.io.File(new java.net.URI(m0Rows.head.getString(0)))
    assert(victim.delete(), s"couldn't delete $victim")
    val m2 = DataSkipping.updateManifest(spark, dir, m1, "v")
    assert(m2.count() == 5)
  }

  test("updateManifest handles partitioned (nested-dir) layouts and refuses to empty silently") {
    import graft.sources.DataSkipping
    // Hive-partitioned layout: data files live in nested p=*/ dirs — a
    // flat listing sees zero files and would silently drop every manifest
    // row as "vanished" (ADVICE r6); the recursive listing must see them.
    val dir = TestSpark.tempDir("layout_part_").toString
    (0L until 100L).map(i => (i, i, i % 3)).toDF("id", "v", "p")
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val m0 = DataSkipping.buildManifest(spark, dir, "v")
    val n0 = m0.count()
    assert(n0 >= 3, s"expected >=3 partition files, got $n0")
    val m1 = DataSkipping.updateManifest(spark, dir, m0, "v")
    assert(m1.count() == n0, "nested files mistaken for vanished")
    // an empty/wrong dir with a non-empty old manifest must fail loudly,
    // never return an emptied manifest
    val emptyDir = TestSpark.tempDir("layout_empty_").toString
    intercept[IllegalArgumentException] {
      DataSkipping.updateManifest(spark, emptyDir, m0, "v")
    }
  }

  test("ORC sink/source roundtrip with predicate pushdown (format breadth)") {
    val dir = TestSpark.tempDir("layout_orc_").toString
    val df = (1L to 1000L).map(i => (i, s"name$i", i % 7)).toDF("id", "name", "grp")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // files store everything nullable; names and types must round-trip
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.count() == 1000)
    val q = back.filter($"id" > 990)
    assert(q.count() == 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.matches("(?s).*PushedFilters: \\[\\].*"),
      "ORC scan did not receive the pushed predicate")
  }
}
