package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ExpectsStringArrayInput
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native form of the substring-dedup family's candidate-nomination
  * pass ([[graft.operators.Dedup]]'s rolling window digests): md5-derive
  * a 32-bit hash per token, then emit one packed double-polynomial
  * digest per k-token window — `Σ h[p+j]·C^j mod M` under two fixed
  * (C, M) lines packed into one int64.
  *
  * Why native: the composed form runs an `aggregate` fold of k
  * multiply-adds per position through interpreted higher-order lambdas
  * — at the family's heavy width (k = 50) that is ~100 interpreted
  * steps and two boxed accumulators per token position, and it
  * dominates the corpus pass of every rolling-candidate operator
  * (q155/q156 measure/cut, the q157–q159 cross-corpus probes, the q169
  * ingest gate's substring screen). This expression walks the token
  * array ONCE: each token is hashed with [[Md5Hash32]], the LAST
  * window's digest is computed directly, and every earlier window
  * follows from the O(1) backward recurrence
  * `D(p) = h[p] + C·D(p+1) − C^k·h[p+k] (mod M)` — O(n + k) integer
  * ops per document instead of O(n·k), zero allocation beyond the
  * output array, one static call in whole-stage codegen.
  *
  * Values are IDENTICAL to the composed form by construction — both
  * compute `(Σ_j (h[p+j] mod M)·(C^j mod M)) mod M` per line and pack
  * `line1·2^32 + line2` — so every oracle, stored artifact and
  * downstream verify stays valid (DedupSpec pins equality with the
  * composed formula, including short-doc and null edges). The rolling
  * hash only NOMINATES candidates; the exact md5 verify line keeps the
  * final word, unchanged. */
case class RollingHashWindows(child: Expression, k: Int)
    extends UnaryExpression with ExpectsStringArrayInput {

  require(k >= 2, s"window size must be >= 2 tokens, got $k")

  // element type nullable to match the composed transform (a null token
  // nulls every window digest that covers it)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "rolling_hash_windows"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashWindows.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashWindows.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashWindows =
    copy(child = newChild)
}

object RollingHashWindows {

  // The two public-constant hash lines (Mersenne-ish primes below 2^31,
  // multipliers ~10^6): every product stays under 2^62, every 3-term
  // recurrence sum under 2^33 — all exact int64. MUST stay equal to the
  // composed form's constants in the specs' parity twin
  // Dedup.rollingWindowDigestsComposed.
  val M1 = 2147483647L
  val C1 = 1000003L
  val M2 = 2147483629L
  val C2 = 1000033L
  val Pack = 4294967296L // 2^32

  private val EmptyLongs: ArrayData = ArrayData.toArrayData(Array.empty[Long])

  /** All n−k+1 packed window digests of the token array (empty when the
    * document is shorter than one window). */
  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return EmptyLongs
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { if (toks.isNullAt(i)) hasNull = true; i += 1 }
    if (hasNull) return computeWithNulls(toks, k)
    // per-token 32-bit hashes, pre-reduced per line
    val h1 = new Array[Long](n)
    val h2 = new Array[Long](n)
    i = 0
    while (i < n) {
      val h = Md5Hash32.compute(toks.getUTF8String(i))
      h1(i) = h % M1
      h2(i) = h % M2
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    // last window directly: D = Σ_j h[s+j]·C^j mod M, C^j built inline
    val s = n - k
    var d1 = 0L; var c1 = 1L
    var d2 = 0L; var c2 = 1L
    var j = 0
    while (j < k) {
      d1 = (d1 + h1(s + j) * c1) % M1
      d2 = (d2 + h2(s + j) * c2) % M2
      c1 = c1 * C1 % M1
      c2 = c2 * C2 % M2
      j += 1
    }
    // after the loop c1/c2 hold C^k mod M — the eviction weights
    val ck1 = c1
    val ck2 = c2
    out(s) = d1 * Pack + d2
    var p = s - 1
    while (p >= 0) {
      d1 = (h1(p) + C1 * d1 % M1 + (M1 - ck1 * h1(p + k) % M1)) % M1
      d2 = (h2(p) + C2 * d2 % M2 + (M2 - ck2 * h2(p + k) % M2)) % M2
      out(p) = d1 * Pack + d2
      p -= 1
    }
    ArrayData.toArrayData(out)
  }

  /** Null-token documents (never produced by the engine's tokenizer —
    * kept for faithfulness to the composed form): a window covering a
    * null token yields a null digest; others compute directly. */
  private def computeWithNulls(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val h1 = new Array[Long](n)
    val h2 = new Array[Long](n)
    val isNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) isNull(i) = true
      else {
        val h = Md5Hash32.compute(toks.getUTF8String(i))
        h1(i) = h % M1
        h2(i) = h % M2
      }
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    var p = 0
    while (p <= n - k) {
      var d1 = 0L; var c1 = 1L
      var d2 = 0L; var c2 = 1L
      var j = 0
      var nul = false
      while (j < k && !nul) {
        if (isNull(p + j)) nul = true
        else {
          d1 = (d1 + h1(p + j) * c1) % M1
          d2 = (d2 + h2(p + j) * c2) % M2
          c1 = c1 * C1 % M1
          c2 = c2 * C2 % M2
        }
        j += 1
      }
      out(p) = if (nul) null else java.lang.Long.valueOf(d1 * Pack + d2)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Column entry point (dev tools / tests). */
object RollingHashWindowsCol {
  def of(text: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      RollingHashWindows(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          org.apache.spark.sql.functions.split(text, " ")), k))
}
