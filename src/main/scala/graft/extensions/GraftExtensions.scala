package graft.extensions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Contains, Expression, ExpressionInfo, Literal, Lower, Or}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{BloomMightContain, CharHash, ContainsAnyTerm, MinhashBandKeys, MinhashBandKeysFromHashes, QualityScore, ShingleHashes, SimhashSig}

/** Session extensions for the graft engine — `spark.sql.extensions =
  * graft.extensions.GraftExtensions` (set by Verify/Bench/Smoke and the
  * test session).
  *
  * Registers the engine's native codegen'd expressions as SQL functions so
  * `spark.sql` users get them without touching the Column API:
  *
  *   - `char_hash(s)` — the portable rolling hash ([[graft.expressions.CharHash]])
  *   - `contains_any_term(s, 'a', 'b', ...)` — one-pass Aho-Corasick
  *     multi-substring match ([[graft.expressions.ContainsAnyTerm]]),
  *     the reference's wordfilter blacklist semantics
  *     (`reddit/lambda_function_initial.py:29-31`)
  *
  * and injects [[CollapseContainsChain]], which rewrites hand-written
  * blacklist disjunctions into the automaton form.
  *
  * It also installs the engine's local filesystem: it points the active
  * context's `hadoopConfiguration` at [[NioLocalFileSystem]] for `file:`
  * paths, both `fs.file.impl` (the `FileSystem` API: parquet writes and
  * the output committer) and `fs.AbstractFileSystem.file.impl` (the
  * `FileContext` API: the streaming checkpoint's offset, commit and source
  * logs). Spark applies the
  * extensions once per `getOrCreate` that starts a session, after the
  * SparkContext is up and before the session's shared state copies the
  * context's Hadoop configuration, so every later Hadoop conf of the
  * session carries both keys. One ordering condition holds it together:
  * Hadoop caches a `FileSystem` per scheme, authority and user — not per
  * conf — so the install takes effect only if no `file:` `FileSystem` was
  * created in the JVM before the first session applied this extension. A
  * context start (no event log, no added jars) creates none; a `file:`
  * filesystem made earlier keeps the stock class for the JVM's life (the
  * `FileContext` side has no cache and follows the key at once).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.GraftSparkAccess.activeContext
      .foreach(sc => NioLocalFileSystem.install(sc.hadoopConfiguration))
    GraftExtensions.registrations.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => CollapseContainsChain)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String, clazz: Class[_]) =
    new ExpressionInfo(clazz.getCanonicalName, null, name, usage, "")

  val charHashFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("char_hash"),
    info("char_hash", "char_hash(str) - rolling hash fold (acc*31+code) mod 1e9+7",
      classOf[CharHash]),
    (args: Seq[Expression]) => {
      require(args.length == 1, "char_hash expects exactly 1 argument")
      CharHash(args.head)
    })

  val containsAnyTermFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("contains_any_term"),
    info("contains_any_term",
      "contains_any_term(str, term1, term2, ...) - true when any term occurs " +
        "as a case-insensitive substring (single Aho-Corasick pass)",
      classOf[ContainsAnyTerm]),
    (args: Seq[Expression]) => {
      require(args.length >= 2,
        "contains_any_term expects a string column and at least one term")
      val terms = args.tail.map {
        // Terms fix the automaton at plan time: literals or any foldable
        // string expression (constant-folded value), never a column.
        case Literal(t: UTF8String, StringType) if t != null => t.toString
        case e if e.foldable && e.dataType == StringType && e.eval(null) != null =>
          e.eval(null).toString
        case other => throw new IllegalArgumentException(
          s"contains_any_term terms must be string literals, got: ${other.sql}")
      }
      ContainsAnyTerm(args.head, terms)
    })

  val bloomMightContainFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_might_contain"),
    info("bloom_might_contain",
      "bloom_might_contain(key, sketchBytes) - membership test against a " +
        "serialized BloomFilter sketch (see graft.ops.BloomJoin)",
      classOf[BloomMightContain]),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        "bloom_might_contain expects (key, sketchBytes)")
      BloomMightContain(args.head, args(1))
    })

  private def intArg(e: Expression, name: String): Int = e match {
    case lit if lit.foldable && lit.dataType == IntegerType && lit.eval(null) != null =>
      lit.eval(null).asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$name must be an INT literal, got: ${other.sql}")
  }

  val shingleHashesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes"),
    info("shingle_hashes",
      "shingle_hashes(text, k) - distinct k-shingle rolling hashes as array<bigint>",
      classOf[ShingleHashes]),
    (args: Seq[Expression]) => {
      require(args.length == 2, "shingle_hashes expects (text, k)")
      ShingleHashes(args.head, intArg(args(1), "shingle_hashes k"))
    })

  val minhashBandKeysFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_band_keys"),
    info("minhash_band_keys",
      "minhash_band_keys(text, k, numHashes, bands) - per-band LSH keys as " +
        "array<bigint> (array index = band id)",
      classOf[MinhashBandKeys]),
    (args: Seq[Expression]) => {
      require(args.length == 4,
        "minhash_band_keys expects (text, k, numHashes, bands)")
      MinhashBandKeys(args.head, intArg(args(1), "k"),
        intArg(args(2), "numHashes"), intArg(args(3), "bands"))
    })

  /** All SQL-function registrations (shared with
    * [[org.apache.spark.sql.GraftFunctions]]'s imperative path).
    */
  val minhashBandKeysFromHashesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_band_keys_from_hashes"),
    info("minhash_band_keys_from_hashes",
      "minhash_band_keys_from_hashes(sh, numHashes, bands) - per-band LSH " +
        "keys from a shingle-hash array<bigint> (array index = band id)",
      classOf[MinhashBandKeysFromHashes]),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        "minhash_band_keys_from_hashes expects (sh, numHashes, bands)")
      MinhashBandKeysFromHashes(args.head, intArg(args(1), "numHashes"),
        intArg(args(2), "bands"))
    })

  val simhashSigFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_sig"),
    info("simhash_sig",
      "simhash_sig(text, bits) - SimHash signature (majority bit vote over " +
        "distinct-token hashes) as BIGINT",
      classOf[SimhashSig]),
    (args: Seq[Expression]) => {
      require(args.length == 2, "simhash_sig expects (text, bits)")
      SimhashSig(args.head, intArg(args(1), "simhash_sig bits"))
    })

  val qualityScoreFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quality_score"),
    info("quality_score",
      "quality_score(text, stop1, stop2, ...) - composite [0,1] doc quality " +
        "(length/stopword-ratio/punctuation mix) in one codegen'd pass",
      classOf[QualityScore]),
    (args: Seq[Expression]) => {
      require(args.nonEmpty, "quality_score expects a string column")
      val stops = args.tail.map {
        case Literal(t: UTF8String, StringType) if t != null => t.toString
        case e if e.foldable && e.dataType == StringType && e.eval(null) != null =>
          e.eval(null).toString
        case other => throw new IllegalArgumentException(
          s"quality_score stopwords must be string literals, got: ${other.sql}")
      }
      QualityScore(args.head, stops)
    })

  val arrayJaccardFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("array_jaccard"),
    info("array_jaccard",
      "array_jaccard(a, b) - exact Jaccard of two distinct array<bigint> sets",
      classOf[graft.expressions.ArrayJaccard]),
    (args: Seq[Expression]) => {
      require(args.length == 2, "array_jaccard expects exactly 2 arguments")
      graft.expressions.ArrayJaccard(args(0), args(1))
    })

  val arrayInterSizeFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("array_inter_size"),
    info("array_inter_size",
      "array_inter_size(a, b) - |distinct(a) INTERSECT distinct(b)| of two array<bigint>",
      classOf[graft.expressions.ArrayInterSize]),
    (args: Seq[Expression]) => {
      require(args.length == 2, "array_inter_size expects exactly 2 arguments")
      graft.expressions.ArrayInterSize(args(0), args(1))
    })

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(charHashFn, containsAnyTermFn, bloomMightContainFn, shingleHashesFn,
      minhashBandKeysFn, minhashBandKeysFromHashesFn, simhashSigFn,
      qualityScoreFn, arrayJaccardFn, arrayInterSizeFn)
}

/** Collapse OR-chains of case-insensitive substring tests over one column,
  *
  *   lower(x) LIKE/contains t1 OR lower(x) contains t2 OR ... OR p
  *     ==>  contains_any_term(x, t1, t2, ...) OR p
  *
  * when the ti are lowercase string literals. A hand-written blacklist of k
  * terms costs O(len·k) as a Contains chain (and produces a k-deep codegen
  * tree that falls back to interpreted past ~100 branches); the automaton is
  * one O(len) pass however large the dictionary.
  *
  * Three-valued-logic safe: within a group every disjunct references the
  * same x, so for null x the chain is NULL and `contains_any_term` (null-
  * intolerant) is NULL too; for non-null x both sides are total. Disjuncts
  * that don't match the pattern are preserved untouched. Idempotent (the
  * rewritten form no longer matches), so safe in the optimizer's fixed-point
  * batch.
  */
object CollapseContainsChain extends Rule[LogicalPlan] {

  /** Minimum same-column terms before rewriting — 2 already wins (one pass,
    * one codegen branch) but keeping singletons as plain Contains preserves
    * the more readable plan for the trivial case.
    */
  private val MinTerms = 2

  private def disjuncts(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => disjuncts(l) ++ disjuncts(r)
    case other => Seq(other)
  }

  private object LowerContainsLit {
    def unapply(e: Expression): Option[(Expression, String)] = e match {
      case Contains(Lower(x), Literal(t: UTF8String, StringType))
          if t != null && { val s = t.toString; s.nonEmpty && s == s.toLowerCase } =>
        Some((x, t.toString))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case or @ Or(_, _) =>
      val ds = disjuncts(or)
      val groups = ds.collect { case LowerContainsLit(x, t) => (x.canonicalized, t) }
        .groupBy(_._1).filter(_._2.length >= MinTerms)
      if (groups.isEmpty) or
      else {
        // One automaton per qualifying column; non-matching disjuncts and
        // singleton groups stay as written, in original order.
        val emitted = scala.collection.mutable.Set.empty[Expression]
        val rebuilt = ds.flatMap {
          case d @ LowerContainsLit(x, _) if groups.contains(x.canonicalized) =>
            if (emitted.add(x.canonicalized)) {
              val terms = groups(x.canonicalized).map(_._2)
              d match { case Contains(Lower(orig), _) =>
                Some(ContainsAnyTerm(orig, terms))
              }
            } else None
          case other => Some(other)
        }
        rebuilt.reduceLeft[Expression]((a, b) => Or(a, b))
      }
  }
}
