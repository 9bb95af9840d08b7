package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.dedup.Dedup
import graft.expressions.CharHash
import graft.ops.{CoreOps, SocialOps}

/** Property-based invariants (SURVEY.md §5.3), driver-side where the
  * property is about the scalar spec, Spark-side where it is about the plan.
  * (scalacheck Gen sampled directly — scalatestplus isn't on the offline
  * classpath.)
  */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.const(' ')))
      .map(_.mkString)

  test("charHashStr is total, stable, and within [0, P)") {
    for (s <- samples(asciiText, 200)) {
      val h = CharHash.hash(s)
      assert(h >= 0L && h < Dedup.P)
      assert(h == CharHash.hash(s))
    }
  }

  test("scalar jaccard invariants: bounds, symmetry, identity") {
    val toks: Gen[Seq[String]] = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e")).map(_.distinct)
    val xs = samples(toks, 100)
    val ys = samples(toks, 100).reverse
    for ((x, y) <- xs.zip(ys)) {
      def j(a: Seq[String], b: Seq[String]): Double = {
        val u = (a ++ b).distinct.size.toDouble
        if (u == 0) 0.0 else a.intersect(b).size / u
      }
      assert(j(x, y) >= 0.0 && j(x, y) <= 1.0)
      assert(j(x, y) == j(y, x))
      assert(x.isEmpty || j(x, x) == 1.0)
    }
  }

  test("nullifySentinels is idempotent on a generated frame") {
    val vals = Seq("ok", "", "[deleted]", "None", "x", null)
    val df = vals.toDF("c")
    val once = df.select(CoreOps.nullifySentinels($"c", Seq("", "[deleted]")).as("c"))
    val twice = once.select(CoreOps.nullifySentinels($"c", Seq("", "[deleted]")).as("c"))
    assert(once.collect().toSeq == twice.collect().toSeq)
  }

  test("cents-sum is partition-count invariant (associativity in practice)") {
    val values = (1 to 1000).map(i => (i % 7, i * 0.01 + 0.001 * (i % 3)))
    val df1 = spark.createDataFrame(values).toDF("k", "v").repartition(1)
    val df32 = spark.createDataFrame(values).toDF("k", "v").repartition(32)
    def total(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k").agg(sum(CoreOps.cents($"v")).as("s"))
        .orderBy($"k").collect().map(_.getLong(1)).toSeq
    assert(total(df1) == total(df32))
  }

  test("saltedSumCount equals the plain group-by at any bucket count") {
    val df = (1 to 500).map(i => (i % 3, i * 0.5)).toDF("k", "v")
    val plain = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum(CoreOps.cents($"v")).as("sum_cents"))
      .orderBy($"k").collect().toSeq
    for (buckets <- Seq(1, 4, 64)) {
      val salted = CoreOps.saltedSumCount(df, Seq("k"), $"v", buckets)
        .orderBy($"k").collect().toSeq
      assert(salted == plain, s"buckets=$buckets")
    }
  }

  test("commentGuard and mapTextColumns behave per spec") {
    val posts = Seq(("p1", 3, "Héllo"), ("p2", 0, "x")).toDF("id", "commentCount", "content")
    assert(SocialOps.commentGuard(posts).count() == 1)
    val mapped = SocialOps.mapTextColumns(posts, _ == "content",
      graft.enrich.Enrich.translateCol)
    assert(mapped.columns.toSeq == posts.columns.toSeq)
    assert(mapped.filter($"id" === "p1").head().getAs[String]("content") == "Hello")
  }

  test("greedyMerge invariants: content-preserving, count-exact, no pair survives adjacent-new") {
    import graft.text.TextOps
    val tok: Gen[String] = Gen.oneOf("a", "b", "c", "ab")
    val toksGen: Gen[Vector[String]] = Gen.listOf(tok).map(_.toVector)
    val pairGen: Gen[(String, String)] =
      for { l <- tok; r <- tok } yield (l, r)
    for (((toks, (l, r)), i) <- samples(Gen.zip(toksGen, pairGen), 300).zipWithIndex) {
      val out = TextOps.greedyMerge(toks, l, r, sep = "")
      // merges consume; concatenated content is invariant under sep=""
      assert(out.mkString == toks.mkString, s"case $i content drifted")
      // every merge removes exactly one symbol, and the scan reference
      // (explicit index walk) agrees on the count
      var ref = 0; var j = 0
      while (j < toks.length) {
        if (j + 1 < toks.length && toks(j) == l && toks(j + 1) == r) { ref += 1; j += 2 }
        else j += 1
      }
      assert(out.length == toks.length - ref, s"case $i merge count")
    }
  }

  test("bpeTrain: token count strictly decreases per round; pairs bound merges") {
    import graft.text.TextOps
    val docs = Seq((1L, "a b a b a b"), (2L, "b a b a"), (3L, "c"))
      .toDF("doc_id", "text")
    val rounds = TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 4)
      .orderBy("step")
      .as[(Int, String, String, Long, Long)].collect()
    val n0 = 6L + 4L + 1L
    val counts = n0 +: rounds.map(_._5)
    counts.sliding(2).zip(rounds.iterator).foreach { case (Array(before, after), r) =>
      assert(after < before, s"round ${r._1} did not shrink the corpus")
      assert(before - after <= r._4, s"round ${r._1} merged more than its pair count")
    }
  }

  test("repetition-score arithmetic: hand-computable docs give exact bp") {
    // "a a a a a": 2 four-grams, 1 distinct -> 5000 bp.
    // "a b c d e f": 3 four-grams, all distinct -> 0 bp.
    // "x y x y x y x y": 5 four-grams, 2 distinct -> 6000 bp.
    val df = Seq("a a a a a", "a b c d e f", "x y x y x y x y").toDF("text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n4", (size(col("toks")) - lit(3)).cast("long"))
      .withColumn("grams", expr(
        "transform(sequence(0, size(toks) - 4)," +
          " i -> concat_ws('#', slice(toks, i + 1, 4)))"))
      .withColumn("rep_bp",
        expr("(n4 - size(array_distinct(grams))) * 10000 div n4"))
    assert(df.select("rep_bp").as[Long].collect().toSeq == Seq(5000L, 0L, 6000L))
  }

  test("apportionment: allocations sum exactly to the budget (q239)") {
    // Floating-point proportional allocation never guarantees this; the
    // quota + ranked-remainder top-up must, for ANY count distribution.
    val out = SparkEntry.queries("q239_token_budget_apportion")(
      spark, "/root/testdata/sf0.001")
    val allocs = out.select(col("alloc")).as[Long].collect()
    assert(allocs.sum == 1000000L, s"allocs ${allocs.toSeq} do not sum to budget")
    assert(allocs.forall(_ >= 0L))
  }
}
