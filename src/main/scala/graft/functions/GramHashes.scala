package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge, ExpectsStringArrayInput}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native form of the shingle-hash pass shared by the sketch and
  * minhash families: `transform(shinglesOf(toks, n), g => md5Hash32(g))`
  * — one 32-bit md5-derived hash per n-token window.
  *
  * Why native: the composed form builds every n-gram STRING
  * (`concat_ws(" ", slice(toks, i, n))`) through interpreted
  * higher-order lambdas before hashing it — per-window allocation +
  * copy that dominates the corpus pass of the KMV sketches (q139/q141)
  * and the shingled minhash fronts. This expression feeds each
  * window's token bytes and single-space separators straight into the
  * digest ([[Md5HexGram]]'s discipline, truncated to the
  * [[Md5Hash32]] first-4-bytes long) in ONE token-array walk, one
  * static call in whole-stage codegen. Values are IDENTICAL by
  * construction (same md5 over the same byte stream, same truncation)
  * — SketchesSpec pins equality with the composed form. Documents
  * shorter than `n` tokens produce an empty array (shinglesOf's
  * short-doc guard). */
case class GramHash32Windows(child: Expression, n: Int)
    extends UnaryExpression with ExpectsStringArrayInput {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hash32_windows"

  override protected def nullSafeEval(input: Any): Any =
    GramHash32Windows.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHash32Windows.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): GramHash32Windows =
    copy(child = newChild)
}

object GramHash32Windows {

  private val Sep = Array(' '.toByte)
  private val EmptyLongs: ArrayData = ArrayData.toArrayData(Array.empty[Long])

  /** md5Hash32 of every n-token window (1-based starts 1..len−n+1),
    * null tokens skipped inside a gram (concat_ws semantics). */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return EmptyLongs
    val out = new Array[Long](len - n + 1)
    val d = Md5Hash32Digest.get()
    var s = 0
    while (s <= len - n) {
      d.reset()
      var first = true
      var j = s
      val end = s + n
      while (j < end) {
        if (!toks.isNullAt(j)) {
          if (!first) d.update(Sep)
          d.update(toks.getUTF8String(j).getBytes)
          first = false
        }
        j += 1
      }
      val b = d.digest()
      out(s) = ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
        ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column API over an already-bound token array. */
  def of(toks: Column, n: Int): Column =
    ColumnBridge.column(GramHash32Windows(ColumnBridge.expression(toks), n))
}

/** Native form of the whole winnowed-fingerprint projection
  * ([[graft.operators.Dedup.winnowFingerprintArray]], the MOSS
  * algorithm): hash every k-token gram, pack `hash·2^31 + position`,
  * keep each w-gram window's minimum (ties → leftmost via the
  * packing), unshift, dedupe preserving first occurrence.
  *
  * Why native: the composed form pays the gram-string build per window
  * PLUS a `least()` chain of w interpreted `try_element_at` probes per
  * window — O(n·w) lambda steps per document. This expression reuses
  * the one-pass gram hasher above and a monotonic-deque sliding
  * minimum — O(n) total, one static call in codegen. Values (and array
  * ORDER — first-occurrence, matching `array_distinct`) are IDENTICAL
  * by construction; WinnowingSpec pins equality with the composed
  * form. Short documents (fewer than w grams) contribute their single
  * clipped-window minimum; documents shorter than one gram contribute
  * an empty array. */
case class WinnowMinFingerprints(child: Expression, kGram: Int, w: Int)
    extends UnaryExpression with ExpectsStringArrayInput {

  require(kGram >= 2 && w >= 2, s"need kGram >= 2 and w >= 2, got $kGram/$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_min_fingerprints"

  override protected def nullSafeEval(input: Any): Any =
    WinnowMinFingerprints.compute(input.asInstanceOf[ArrayData], kGram, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowMinFingerprints.compute($c, $kGram, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowMinFingerprints =
    copy(child = newChild)
}

object WinnowMinFingerprints {

  /** Position multiplier for the winnowing (hash, pos) encoding:
    * comb = h·2^31 + pos packs (min hash, tie → leftmost pos) into one
    * BIGINT so a single window `min` implements the lexicographic rule
    * in any engine. h < 2^32 ⇒ comb < 2^63 (no overflow); positions are
    * bounded at 2^31 tokens per document — beyond any real document. */
  private val PosMul = 2147483648L // 2^31
  private val EmptyLongs: ArrayData = ArrayData.toArrayData(Array.empty[Long])

  def compute(toks: ArrayData, kGram: Int, w: Int): ArrayData = {
    val grams = GramHash32Windows.compute(toks, kGram)
    val ng = grams.numElements()
    if (ng == 0) return EmptyLongs
    // packed combinators: hash·2^31 + gram index (ties → leftmost)
    val c = new Array[Long](ng)
    var i = 0
    while (i < ng) { c(i) = grams.getLong(i) * PosMul + i; i += 1 }
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](math.min(ng, 16))
    if (ng < w) {
      // single clipped window: the overall minimum
      var m = c(0); i = 1
      while (i < ng) { if (c(i) < m) m = c(i); i += 1 }
      out += (m >> 31)
    } else {
      // monotonic deque over windows [s, s+w)
      val deque = new Array[Int](ng)
      var head = 0; var tail = 0 // [head, tail) holds candidate indices
      i = 0
      while (i < ng) {
        while (tail > head && c(deque(tail - 1)) >= c(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) {
          val fp = c(deque(head)) >> 31
          if (seen.add(fp)) out += fp
        }
        i += 1
      }
    }
    ArrayData.toArrayData(out.toArray)
  }

  /** Column API over an already-bound token array. */
  def of(toks: Column, kGram: Int, w: Int): Column =
    ColumnBridge.column(WinnowMinFingerprints(
      ColumnBridge.expression(toks), kGram, w))
}
