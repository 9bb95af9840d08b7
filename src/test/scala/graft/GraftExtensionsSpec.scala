package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.expressions.ContainsAnyTerm

/** SparkSessionExtensions registration: SQL function surface for the native
  * expressions + the blacklist-chain optimizer rule.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("char_hash is callable from SQL and matches the kernel arithmetic") {
    val got = spark.sql("SELECT char_hash('hello world') AS h").head().getLong(0)
    assert(got == Dedup.charHashStr("hello world"))
    // and composes inside expressions
    val via = spark.sql("SELECT char_hash(concat('hello', ' ', 'world')) AS h")
      .head().getLong(0)
    assert(via == got)
  }

  test("char_hash(NULL) is NULL (null-intolerant, filters can push around it)") {
    assert(spark.sql("SELECT char_hash(CAST(NULL AS STRING)) AS h").head().isNullAt(0))
  }

  test("contains_any_term is callable from SQL with literal terms") {
    val df = spark.sql(
      "SELECT contains_any_term(t, 'spam', 'scam') AS bad FROM " +
        "VALUES ('pure SPAM here'), ('all fine'), ('a ScAm!') AS v(t)")
    assert(df.collect().map(_.getBoolean(0)).toSeq == Seq(true, false, true))
  }

  test("contains_any_term rejects non-literal terms at plan time") {
    val e = intercept[Exception] {
      spark.sql("SELECT contains_any_term(t, t) FROM VALUES ('x') AS v(t)").collect()
    }
    assert(e.getMessage.contains("string literals"))
  }

  private def optimizedHasAutomaton(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[ContainsAnyTerm]))

  /** Parquet-backed frame: local relations get filter-folded at optimize
    * time (`ConvertToLocalRelation`), which would leave no Filter to
    * inspect.
    */
  private def onDisk(df: DataFrame): DataFrame = {
    val dir = TestSpark.tempDir("graft_ext_").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("CollapseContainsChain rewrites lower-contains OR-chains to one automaton") {
    val docs = onDisk(Seq("has SPAM inside", "clean text", "SCAM alert",
      "phishy stuff", null).toDF("t"))
    val chain = docs.filter(
      lower($"t").contains("spam") || lower($"t").contains("scam") ||
        lower($"t").contains("phish"))
    assert(optimizedHasAutomaton(chain), "expected ContainsAnyTerm in optimized plan")
    // null row drops on both forms; matches are case-insensitive
    assert(chain.as[String].collect().toSet ==
      Set("has SPAM inside", "SCAM alert", "phishy stuff"))
  }

  test("rewrite preserves non-matching disjuncts and mixed-column groups") {
    val df = onDisk(Seq(("spam mail", "x"), ("ok", "evil plan"), ("ok", "ok"),
      ("looooooooooooooooong but clean", "ok")).toDF("a", "b"))
    val q = df.filter(
      lower($"a").contains("spam") || lower($"a").contains("scam") ||
        lower($"b").contains("evil") || length($"a") > 20)
    val auts = q.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case c: ContainsAnyTerm => c })
    // column a gets an automaton (2 terms); b stays a plain Contains (1 term)
    assert(auts.length == 1 && auts.head.terms.sorted == Seq("scam", "spam"))
    assert(q.count() == 3)
  }

  test("rewrite does not fire on case-sensitive or non-literal patterns") {
    val df = Seq("Spam", "ok").toDF("t")
    // no lower(): case-sensitive semantics must be left alone
    val cs = df.filter($"t".contains("spam") || $"t".contains("scam"))
    assert(!optimizedHasAutomaton(cs))
    assert(cs.count() == 0)
    // uppercase literal under lower() can never match — not our pattern
    val up = df.filter(lower($"t").contains("SPAM") || lower($"t").contains("SCAM"))
    assert(!optimizedHasAutomaton(up))
    assert(up.count() == 0)
  }

  test("rewritten filter still runs inside whole-stage codegen") {
    val docs = onDisk(Seq("spam a", "b", "scam c").toDF("t"))
    val q = docs.filter(lower($"t").contains("spam") || lower($"t").contains("scam"))
    q.collect()
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val filters = plan.collect { case f: FilterExec => f }
    assert(filters.nonEmpty)
    assert(filters.head.condition.exists(_.isInstanceOf[ContainsAnyTerm]))
  }

  test("rewrite preserves full-string Unicode lowercasing (Turkish dotted I)") {
    // String.toLowerCase maps \u0130 to i + combining dot; per-char folding
    // would map it to plain i and CHANGE the match result after rewrite.
    val docs = onDisk(Seq("\u0130STANBUL", "plain istanbul").toDF("t"))
    val chain = docs.filter(
      lower($"t").contains("ist") || lower($"t").contains("izm"))
    assert(optimizedHasAutomaton(chain))
    assert(chain.as[String].collect().toSet ==
      Set("plain istanbul")) // \u0130STANBUL lowercases to i\u0307stanbul: no "ist"
  }
}
