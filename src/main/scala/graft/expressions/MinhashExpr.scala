package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd forms of the MinHash pipeline's per-document work,
  * run as one static JVM call per row INSIDE generated code: no encoders,
  * no optimizer barrier, and the downstream `posexplode` is the first
  * non-codegen node. Production code runs only these; the HOF column
  * forms in `Dedup` (`shingleHashes`, `minhashSignature`, `bandHash`,
  * `tokenHashes`, `simhash`) are the executable spec they are pinned to.
  *
  * Arithmetic is bit-identical to those HOF forms (and therefore to the
  * DuckDB oracle SQL): per-token [[CharHash.hash]] fold, k-step shingle
  * fold mod 1e9+7, seeded affine min-hash, 1000003-fold band keys.
  * Parity is pinned by MinhashExprSpec.
  */
object MinhashKernels {
  private val P = 1000000007L

  /** Distinct shingle hashes of a document (shared core). */
  def shingleHashes(s: UTF8String, k: Int): Array[Long] = {
    val text = s.toString
    // split(" ", -1) semantics: empty tokens kept, empty text = one token
    val toks = text.split(" ", -1)
    val th = new Array[Long](toks.length)
    var t = 0
    while (t < toks.length) { th(t) = CharHash.hash(toks(t)); t += 1 }
    val nSh = math.max(toks.length - k, 0) + 1
    val out = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var acc = 0L
      var j = i
      val end = math.min(i + k, toks.length)
      while (j < end) { acc = (acc * 1000003L + th(j)) % P; j += 1 }
      out(i) = acc
      i += 1
    }
    // distinct, ASCENDING order (r18): primitive sort + unique scan
    // replaces the boxing HashSet dedup (one Long box per shingle), and
    // sorted output lets the verify kernels skip their per-PAIR sorts
    // (ArrayJaccardKernel.ensureSorted) — candidate pairs outnumber docs
    // by orders of magnitude. Every consumer is set-semantic (band mins,
    // explode joins, size, intersection), so element order is free to
    // choose; parity specs compare as sets.
    java.util.Arrays.sort(out)
    var n = 0
    i = 0
    while (i < nSh) {
      if (n == 0 || out(i) != out(n - 1)) { out(n) = out(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  def shingleHashesData(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(shingleHashes(s, k))

  /** SimHash signature: majority vote per bit over distinct-token seeded
    * hashes — seed 0 affine rehash of the per-token charHash fold,
    * identical to `Dedup.tokenHashes` + `simhashFromHashes`.
    *
    * The seeded hashes live mod P ≈ 2³⁰, so only bits 0..29 of one hash
    * are uniformly random — a signature wider than 30 bits CANNOT come
    * from one hash (its upper bits would be all-zero and every doc would
    * collide in the upper bands). Bits 30..59 therefore vote over a
    * SECOND seed built from UNRELATED constants (the murmur3 finalizer
    * multipliers mod P — `Dedup.wideA1`/`wideB1`, not the (i+1)·const
    * affine family, whose seed 1 is a near-shift of seed 0; ADVICE r16),
    * giving a 60-bit ceiling: the WIDE mode whose wider bands cut
    * accidental band collisions ~2^(extra band bits) on low-entropy
    * corpora.
    */
  def simhashSig(s: UTF8String, bits: Int): Long = {
    require(bits >= 1 && bits <= 60, s"simhash_sig bits must be 1..60, got $bits")
    val toks = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val wide = bits > 30
    val hs = new Array[Long](toks.length)
    val hs2 = if (wide) new Array[Long](toks.length) else null
    var n = 0
    val a0 = 2654435761L % P
    val b0 = 1013904223L % P
    val a1 = 0x85EBCA6BL % P // Dedup.wideA1 — kept literal for kernel parity
    val b1 = 0xC2B2AE35L % P // Dedup.wideB1
    var t = 0
    while (t < toks.length) {
      val str = toks(t)
      if (seen.add(str)) {
        val h = CharHash.hash(str)
        hs(n) = (a0 * h + b0) % P
        if (wide) hs2(n) = (a1 * h + b1) % P
        n += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      val h = if (j < 30) hs else hs2
      val jb = if (j < 30) j else j - 30
      var ones = 0
      var i = 0
      while (i < n) { if (((h(i) >> jb) & 1L) == 1L) ones += 1; i += 1 }
      if (2 * ones > n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Band keys of a document: element b = fold of rows [b·rpb, (b+1)·rpb)
    * of the minhash signature. Index in the array IS the band id.
    */
  def bandKeys(s: UTF8String, k: Int, numHashes: Int, bands: Int): ArrayData =
    bandKeysOfHashes(shingleHashes(s, k), numHashes, bands)

  /** Band keys from an already-computed shingle-hash set — the r18
    * one-kernel-pass form: `minhashNearDups` materializes (id, sh) once
    * and derives band keys, sizes AND the verify sides from it, where the
    * text-path twin re-ran the O(chars) shingle fold per consumer.
    * Arithmetic identical to [[bandKeys]] by construction (it IS the
    * second half of it; parity pinned in MinhashExprSpec).
    */
  def bandKeysOfHashes(sh: Array[Long], numHashes: Int, bands: Int): ArrayData = {
    val rpb = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var r = 0
      while (r < rpb) {
        val i = b * rpb + r
        val a = ((i + 1) * 2654435761L) % P
        val bb = ((i + 1) * 1013904223L) % P
        var m = Long.MaxValue
        var j = 0
        while (j < sh.length) {
          val v = (a * sh(j) + bb) % P
          if (v < m) m = v
          j += 1
        }
        acc = (acc * 1000003L + m) % P
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  def bandKeysFromHashesData(sh: ArrayData, numHashes: Int, bands: Int): ArrayData =
    bandKeysOfHashes(sh.toLongArray(), numHashes, bands)
}

/** `array_jaccard(a, b)` — exact Jaccard |A∩B|/|A∪B| of two DISTINCT
  * array<long> columns as double (0.0 when both empty). Codegen'd
  * replacement (r17) for the mapPartitions verify kernel: the encoder
  * round-trip boxed every element of both arrays per candidate pair —
  * at 10⁵-10⁶ LSH candidates the boxing, `Row.toSeq` allocation and
  * codegen break dominated the verify stage. Here the arrays stay
  * primitive (`ArrayData.toLongArray`), the intersection is a sort +
  * linear merge, and the whole verify fuses into the join's codegen
  * stage. Arithmetic identical to `Dedup.appendJaccard`'s loop on
  * distinct inputs (pinned by MinhashExprSpec).
  */
object ArrayJaccardKernel {
  /** Sort only when needed: callers that pre-sort per DOC (sort_array at
    * the materialized set table — r18) skip the per-PAIR sort here; the
    * ascending check is one O(n) scan, negligible against the sort it
    * replaces. In-place is safe: toLongArray returns a fresh copy.
    */
  def ensureSorted(a: Array[Long]): Unit = {
    var i = 1
    while (i < a.length && a(i - 1) <= a(i)) i += 1
    if (i < a.length) java.util.Arrays.sort(a)
  }

  def jaccard(ad: ArrayData, bd: ArrayData): Double = {
    val a = ad.toLongArray()
    val b = bd.toLongArray()
    ensureSorted(a)
    ensureSorted(b)
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** `array_inter_size(a, b)` — |distinct(a) ∩ distinct(b)| of two
  * array<long> columns as BIGINT: the codegen'd replacement (r17) for
  * `size(array_intersect(a, b))` in the ER verify stages, which Spark
  * evaluates interpreted per candidate pair. Exact parity with
  * array_intersect's size on long arrays (distinct semantics — duplicate
  * elements count once), pinned by MinhashExprSpec.
  */
object ArrayInterSizeKernel {
  def interSize(ad: ArrayData, bd: ArrayData): Long = {
    val a = ad.toLongArray()
    val b = bd.toLongArray()
    ArrayJaccardKernel.ensureSorted(a)
    ArrayJaccardKernel.ensureSorted(b)
    var i = 0
    var j = 0
    var inter = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) {
        inter += 1
        val v = a(i)
        while (i < a.length && a(i) == v) i += 1
        while (j < b.length && b(j) == v) j += 1
      } else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter
  }
}

case class ArrayInterSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  // containsNull=true rejected at ANALYSIS (ADVICE r17): toLongArray is
  // null-blind (NPE on GenericArrayData, garbage on UnsafeArrayData), and
  // both functions are SQL-registered so any query could have hit it at
  // runtime. Production callers pass kernel-built or array_compact'ed
  // arrays (containsNull=false); nullable-element inputs must compact
  // first, which also pins WHICH null semantics the caller wants.
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(
      _.dataType == ArrayType(LongType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_inter_size requires two array<bigint> (containsNull=false) " +
        s"inputs, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_inter_size"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayInterSizeKernel.interSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.ArrayInterSizeKernel.interSize($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ArrayInterSize =
    copy(left = newLeft, right = newRight)
}

case class ArrayJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  // containsNull=false required — see [[ArrayInterSize]] (ADVICE r17).
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(
      _.dataType == ArrayType(LongType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_jaccard requires two array<bigint> (containsNull=false) " +
        s"inputs, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayJaccardKernel.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.ArrayJaccardKernel.jaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ArrayJaccard =
    copy(left = newLeft, right = newRight)
}

/** `simhash_sig(text, bits)` — SimHash signature as one long: bit j set
  * when more than half of the distinct-token seeded hashes have bit j set.
  * Same arithmetic as `Dedup.simhash` (HOF form). Band keys are then
  * plain bit arithmetic on the signature column — fully codegen'd, no
  * arrays at all.
  */
case class SimhashSig(child: Expression, bits: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    MinhashKernels.simhashSig(input.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinhashKernels.simhashSig($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

/** `shingle_hashes(text, k)` — distinct k-shingle hashes as array<long>. */
case class ShingleHashes(child: Expression, shingleK: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    MinhashKernels.shingleHashesData(input.asInstanceOf[UTF8String], shingleK)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinhashKernels.shingleHashesData($c, $shingleK)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `minhash_band_keys(text, k, numHashes, bands)` — per-band LSH keys as
  * array<long>; the array index is the band id.
  */
/** `minhash_band_keys_from_hashes(sh, numHashes, bands)` — per-band LSH
  * keys from an already-computed shingle-hash array: the one-kernel-pass
  * twin of [[MinhashBandKeys]] (identical arithmetic, skips the text →
  * shingle fold). Null elements rejected at analysis like the other
  * array<long> kernels (toLongArray is null-blind).
  */
case class MinhashBandKeysFromHashes(child: Expression, numHashes: Int,
                                     bands: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != ArrayType(LongType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        "minhash_band_keys_from_hashes requires array<bigint> " +
          s"(containsNull=false) input, got ${child.dataType.catalogString}")
    else if (bands <= 0 || numHashes % bands != 0)
      TypeCheckResult.TypeCheckFailure("numHashes must be a positive multiple of bands")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_band_keys_from_hashes"
  override protected def nullSafeEval(input: Any): Any =
    MinhashKernels.bandKeysFromHashesData(input.asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinhashKernels.bandKeysFromHashesData($c, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeysFromHashes =
    copy(child = newChild)
}

case class MinhashBandKeys(child: Expression, shingleK: Int, numHashes: Int,
                           bands: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_band_keys requires STRING input, got ${child.dataType.catalogString}")
    else if (bands <= 0 || numHashes % bands != 0)
      TypeCheckResult.TypeCheckFailure("numHashes must be a positive multiple of bands")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_band_keys"
  override protected def nullSafeEval(input: Any): Any =
    MinhashKernels.bandKeys(input.asInstanceOf[UTF8String], shingleK, numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinhashKernels.bandKeys($c, $shingleK, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeys =
    copy(child = newChild)
}
