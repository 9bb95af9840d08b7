package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** Native minhash expressions pinned bit-for-bit to the HOF reference
  * forms in `Dedup` (the executable spec the DuckDB oracle mirrors).
  */
class MinhashExprSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, ""),                       // empty text: one empty token
    (4L, "a  double  space"),       // empty tokens preserved (split -1)
    (5L, "short"),                  // fewer tokens than k
    (6L, "the quick brown fox jumps over the lazy dog")) // dup of 1
    .toDF("doc_id", "text")

  test("minhash_band_keys expression == HOF reference, all edge docs") {
    val expr = Dedup.minhashBands(docs, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getLong(2), r.getInt(0), r.getLong(1))).toSet
    val sig = Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 16)
    val hof = docs.select(col("doc_id"), posexplode(
        array((0 until 4).map(b => Dedup.bandHash(sig, b * 4, 4)): _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(expr == hof)
    assert(expr.size == 6 * 4)
  }

  test("minhash_band_keys_from_hashes(shingle_hashes(t)) == minhash_band_keys(t)") {
    // The r18 one-kernel-pass form must be bit-identical to the text form
    // for every edge doc (empty text, empty tokens, short docs, dups), at
    // every band count q260 uses.
    org.apache.spark.sql.GraftFunctions.register(spark)
    for (bands <- Seq(2, 4, 8)) {
      val both = docs.select(col("doc_id"),
        call_function("minhash_band_keys", col("text"), lit(3), lit(16), lit(bands)).as("a"),
        call_function("minhash_band_keys_from_hashes",
          call_function("shingle_hashes", col("text"), lit(3)), lit(16), lit(bands)).as("b"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1).size == bands)
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"band keys diverge for doc ${r.getLong(0)} at $bands bands")
      }
    }
    // nullable-element input rejected at analysis, same as the other
    // array<long> kernels
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(call_function("minhash_band_keys_from_hashes",
        array(lit(1L), lit(null).cast("long")), lit(16), lit(4))).collect()
    }
    assert(err.getMessage.contains("containsNull"))
  }

  test("shingle_hashes expression == HOF reference") {
    val expr = Dedup.shingleHashSets(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    val hof = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    assert(expr == hof)
    assert(expr(1L) == expr(6L)) // identical docs, identical sets
  }

  test("scale path: banding hashes scan-local, text never exchanged") {
    // Parquet-backed MANY-FILE input (files ≥ cores), the layout every real
    // corpus has: the narrow-input widen must NOT fire, the hash expression
    // must run inside the scan stage, and the plan must contain NO exchange
    // at all below the banding output. (A local relation would be
    // constant-folded into a LocalTableScan, hiding the plan shape.)
    val dir = TestSpark.tempDir("mh_plan").toString
    docs.repartition(64).write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    val q = Dedup.minhashBands(pq, "doc_id", "text", 3, 16, 4)
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    val plan = if (cut >= 0) s.substring(0, cut) else s
    assert(plan.contains("minhash_band_keys"), s"expression not in plan:\n$plan")
    assert(!plan.contains("mapPartitions") && !plan.contains("DeserializeToObject"),
      "expression path must not pay the object/encoder round-trip")
    assert(!plan.contains("Exchange"),
      s"scale path must hash scan-local with zero exchanges (r13 contract):\n$plan")
  }

  test("local path: narrow input widens for core-parallel hashing") {
    // Single-file input (files < cores): the widen fires so the hash loops
    // run core-parallel — the sf0.1 A/B showed 1.3–1.7× without it.
    val dir = TestSpark.tempDir("mh_plan1").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    val q = Dedup.minhashBands(pq, "doc_id", "text", 3, 16, 4)
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    val plan = if (cut >= 0) s.substring(0, cut) else s
    assert(plan.contains("Exchange"),
      s"narrow local input must widen before hashing:\n$plan")
  }

  test("simhash_sig expression == HOF reference, incl. sig payload") {
    val expr = Dedup.simhashBands(docs, "doc_id", "text", 30, 3)
      .collect().map(r => (r.getLong(2), r.getInt(0), r.getLong(1), r.getLong(3))).toSet
    // the HOF signature, banded the way simhashBands bands it: 10-bit slices
    val sig = Dedup.simhash(col("text"), 30)
    val hof = docs.select(col("doc_id"), sig.as("sig"), posexplode(array((0 until 3)
        .map(b => shiftright(sig, b * 10).bitwiseAND(lit(1023L))): _*)))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(1))).toSet
    assert(expr == hof)
    assert(expr.size == 6 * 3)
  }

  test("streaming path: memory-stream input hashes in-batch, no widen exchange") {
    // VERDICT r13 item 3: the width probe's fallback is now explicit —
    // streaming frames skip the probe entirely (no inputFiles call, no
    // per-micro-batch repartition). The bands of a streamed doc must be
    // bit-identical to the batch path, and the micro-batch plan must not
    // grow a round-robin Exchange.
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
    val sdf = mem.toDF().toDF("doc_id", "text")
    val bands = Dedup.minhashBands(sdf, "doc_id", "text", 3, 16, 4)
    assert(bands.isStreaming, "banding must stay a stateless streaming projection")
    val q = bands.writeStream.format("memory").queryName("mh_stream_bands")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mh_stream_bands")
        .collect().map(r => (r.getLong(2), r.getInt(0), r.getLong(1))).toSet
      val want = Dedup.minhashBands(
          docs.filter(col("doc_id") <= 2L), "doc_id", "text", 3, 16, 4)
        .collect().map(r => (r.getLong(2), r.getInt(0), r.getLong(1))).toSet
      assert(got == want, "streamed bands must match the batch path bit-for-bit")
      val plan = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"streaming frames must never take the widen repartition:\n$plan")
    } finally q.stop()
  }

  test("non-file batch input (checkpointed LogicalRDD) takes the widen path, no throw") {
    // A lineage-truncated frame reports zero inputFiles WITHOUT throwing;
    // the explicit fallback must leave that (correct) local-path behavior
    // intact rather than masking it under a catch-all.
    val ck = docs.localCheckpoint()
    assert(ck.inputFiles.isEmpty)
    val q = Dedup.minhashBands(ck, "doc_id", "text", 3, 16, 4)
    assert(q.collect().length == 6 * 4)
    val s = q.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    val plan = if (cut >= 0) s.substring(0, cut) else s
    assert(plan.contains("Exchange"),
      s"non-file local input must still widen for core-parallel hashing:\n$plan")
  }

  test("array_jaccard matches the reference set loop, codegen and empty cases") {
    // parity pin for the r17 verify-kernel swap: same |A∩B|/|A∪B| on
    // distinct arrays as the old mapPartitions loop, including the
    // both-empty -> 0.0 convention.
    def ref(a: Seq[Long], b: Seq[Long]): Double = {
      val setA = a.toSet
      val inter = b.count(setA.contains)
      val union = setA.size + b.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(5L), Seq(5L)),
      (Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L))) ++
      (1 to 20).map { _ =>
        def arr = rnd.shuffle((0L to 50L).toList).take(rnd.nextInt(30)).toSeq
        (arr, arr)
      }
    import spark.implicits._
    val df = cases.toDF("a", "b")
    val got = df.select(org.apache.spark.sql.functions.call_function(
      "array_jaccard", org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"))).collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b), g) =>
      assert(g == ref(a, b), s"array_jaccard($a, $b) = $g, want ${ref(a, b)}")
    }
  }

  test("array_inter_size matches size(array_intersect) incl. duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 1L, 2L), Seq(1L, 3L)),          // dup on one side
      (Seq(2L, 2L), Seq(2L, 2L, 2L)),          // dups both sides
      (Seq(1L, 2L, 3L), Seq(4L, 5L))) ++
      (1 to 20).map { _ =>
        def arr = Seq.fill(rnd.nextInt(25))(rnd.nextInt(12).toLong)
        (arr, arr)
      }
    val df = cases.toDF("a", "b")
    val got = df.select(
      org.apache.spark.sql.functions.call_function("array_inter_size",
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")),
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_intersect(
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b"))).cast("long")).collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"array_inter_size=${r.getLong(0)} vs array_intersect size=${r.getLong(1)}")
    }
  }

  test("functions are SQL-callable with literal parameters only") {
    val r = spark.sql(
      "SELECT size(shingle_hashes('a b c d', 2)) AS n, " +
        "size(minhash_band_keys('a b c d', 2, 16, 4)) AS b").head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 4)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_band_keys(t, 2, 16, CAST(id AS INT)) " +
        "FROM VALUES ('x', 1) AS v(t, id)").collect()
    }
    assert(e.getMessage.contains("INT literal"))
  }
}
