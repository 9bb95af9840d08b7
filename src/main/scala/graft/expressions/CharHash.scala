package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's portable rolling hash:
  * fold (acc*31 + unit) mod 1e9+7 over the string's UTF-16 units. Every
  * production hash runs through it: `Dedup.charHash` constructs it as a
  * Column, and the `shingle_hashes` / `simhash_sig` kernels fold each
  * token with [[CharHash.hash]]. The two other bodies of the same fold
  * are references: `Dedup.charHashHof` (the HOF executable spec the
  * parity specs pin this against) and [[CharHash.duckdbSql]] (the DuckDB
  * oracle's form).
  *
  * Why a custom expression (SURVEY.md §7.3): the HOF form
  * `aggregate(split(s,""), ...)` cannot participate in whole-stage codegen —
  * higher-order functions evaluate interpreted, at ~100× the per-char cost
  * and with an O(n) array allocation. This expression stays inside the
  * generated code: one virtual call per row into a static JVM loop, no
  * allocation, null-intolerant so filters can still push around it.
  */
case class CharHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_hash requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_hash"

  override protected def nullSafeEval(input: Any): Any =
    CharHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.CharHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): CharHash =
    copy(child = newChild)
}

object CharHash {
  val P = 1000000007L

  /** The engine's one JVM char fold, over UTF-16 units: allocation-free,
    * so the kernels call it once per token. Equal to the per-character
    * `ascii()` fold of the HOF and DuckDB forms for all BMP text; a
    * supplementary-plane character folds as its two surrogate units.
    */
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) { acc = (acc * 31L + s.charAt(i).toLong) % P; i += 1 }
    acc
  }

  /** Static entry point referenced from generated Java. */
  def hash(s: UTF8String): Long = hash(s.toString)

  /** The same fold as DuckDB SQL over the string expression `s` — the
    * oracle's one copy.
    */
  def duckdbSql(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, c) -> (acc * 31 + c) % $P)""".stripMargin
}
