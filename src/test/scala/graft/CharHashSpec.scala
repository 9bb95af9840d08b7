package graft

import org.apache.spark.sql.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.expressions.CharHash
import org.apache.spark.unsafe.types.UTF8String

class CharHashSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("native char_hash == kernel charHashStr == HOF expression fold") {
    GraftFunctions.register(spark)
    val inputs = Seq("hello", "", "a b c", "The quick brown fox!", "x" * 500)
    val df = inputs.toDF("s")
    val native = df.select(call_function("char_hash", $"s")).collect().map(_.getLong(0))
    val hof = df.select(Dedup.charHashHof($"s")).collect().map(_.getLong(0))
    val kernel = inputs.map(CharHash.hash)
    assert(native.toSeq == kernel)
    assert(hof.toSeq == kernel)
    // static entry point used by generated code agrees too
    assert(CharHash.hash(UTF8String.fromString("hello")) == CharHash.hash("hello"))
  }

  test("every production hash entry folds UTF-16 units like CharHash.hash") {
    // "😀" is one supplementary-plane code point, two UTF-16 units: the
    // code-point fold gives 128512, the unit fold 1772899 — the samplers
    // and the split must follow the unit fold like every other entry.
    val emoji = "\uD83D\uDE00"
    val texts = Seq(emoji, "café", "")
    val df = (texts.map(Option(_)) :+ None).toDF("s")
    def h(t: String): Long = CharHash.hash(t)
    assert(h(emoji) == 1772899L)

    // the one Column function
    val col1 = df.select($"s", Dedup.charHash($"s")).collect()
      .map(r => Option(r.getString(0)) -> Option(r.get(1))).toMap
    assert(col1 == (texts.map(t => Some(t) -> Some(h(t))) :+ (None -> None)).toMap)

    // hashSample's keep set: a denom above P makes the mod the identity,
    // so the two keep bounds around h(emoji) pin its hash exactly
    for (keep <- Seq(h(emoji), h(emoji) + 1)) {
      val kept = graft.ops.CoreOps.hashSample(df, "s", keep.toInt, Int.MaxValue)
        .as[String].collect().toSet
      assert(kept == texts.filter(h(_) < keep).toSet, s"keep bound $keep")
    }

    // leakageSafeSplit hashes the cluster representative; docs in no
    // cluster represent themselves, and a null representative lands in test
    val clusters = Seq.empty[(String, String)].toDF("node", "component")
    val split = Dedup.leakageSafeSplit(df.withColumnRenamed("s", "id"), "id",
        clusters)
      .select($"id", $"split").collect()
      .map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    def bucket(t: String) = math.floorMod(h(t), 100L) match {
      case b if b < 80 => "train"
      case b if b < 90 => "val"
      case _ => "test"
    }
    assert(split == (texts.map(t => Some(t) -> bucket(t)) :+ (None -> "test")).toMap)
    assert(split(Some(emoji)) == "test")

    // a single-token doc through the kernels: its one shingle is the token
    // hash, and its simhash is the seed-0 rehash of it
    GraftFunctions.register(spark)
    val k = df.select($"s", call_function("shingle_hashes", $"s", lit(3)),
        call_function("simhash_sig", $"s", lit(30))).collect()
    k.foreach { r =>
      Option(r.getString(0)) match {
        case Some(t) =>
          assert(r.getSeq[Long](1) == Seq(h(t)), t)
          assert(r.getLong(2) == (Dedup.hashA(0) * h(t) + Dedup.hashB(0)) % Dedup.P, t)
        case None => assert(r.isNullAt(1) && r.isNullAt(2))
      }
    }
  }

  test("char_hash is null-intolerant: null in, null out") {
    GraftFunctions.register(spark)
    val df = Seq(Some("x"), None).toDF("s")
      .select(call_function("char_hash", $"s").as("h"))
    assert(df.filter($"h".isNull).count() == 1)
  }

  test("char_hash is usable from SQL text") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT char_hash('hello') AS h").head().getLong(0)
    assert(r == CharHash.hash("hello"))
  }

  test("char_hash participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    // (a local Seq would be constant-folded into a LocalTableScan)
    val df = spark.range(10)
      .select(call_function("char_hash", $"id".cast("string")).as("h"))
    // "*(n)" marks a WholeStageCodegen stage in the plan's simpleString;
    // the Project evaluating char_hash must carry it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("char_hash")))
    assert(df.agg(countDistinct($"h")).head().getLong(0) == 10L)
  }

  test("registration is idempotent") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT char_hash('x')").count() == 1)
  }

  test("contains_any_term: automaton matches naive substring semantics, randomized") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    def randStr(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(3))).mkString
    for (_ <- 1 to 200) {
      val terms = (1 to 1 + rnd.nextInt(5)).map(_ => randStr(1 + rnd.nextInt(4)))
      val text = randStr(rnd.nextInt(20))
      val expected = terms.exists(t => text.toLowerCase.contains(t.toLowerCase))
      val ac = new graft.expressions.AhoCorasick(terms)
      val got = ac.containsAny(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      assert(got == expected, s"terms=$terms text=$text")
    }
  }

  test("contains_any_term: fail-transition overlaps and case-insensitivity") {
    val ac = new graft.expressions.AhoCorasick(Seq("abxy", "bxz"))
    def hit(s: String) = ac.containsAny(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(hit("aabxz"))   // needs the abx → bx fail link
    assert(hit("ABXY"))    // case-insensitive
    assert(!hit("abx"))
    assert(!hit(""))
  }

  test("contains_any_term is usable from SQL and codegen'd") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT contains_any_term('clean SPAMword here', 'spamword', 'other') AS h").head()
    assert(r.getBoolean(0))
    val df = spark.range(10).select(
      call_function("contains_any_term", $"id".cast("string"), lit("5")).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("contains_any_term")))
    assert(df.filter($"h").count() == 1)
  }
}
