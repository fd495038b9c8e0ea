package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExpectsStringArrayInput
import org.apache.spark.sql.types.{DataType, LongType}

/** Native SimHash fingerprint over a (distinct-)token array: md5-derive
  * a 32-bit hash per token, sum ±1 per fingerprint bit across tokens,
  * sign → bit ([[graft.operators.Dedup.simhash]]'s math).
  *
  * Why native: the engine had two composed forms and both pay in the
  * corpus pass. The aggregation form EXPLODES every document into
  * (id, token-hash) rows and shuffles them into a `bits`-column
  * conditional-sum aggregate — a full exchange of tokenized corpus
  * data that exists only to sum per-document counters (q23's whole
  * plan, q40's signature stage, the q91/q97 screen fronts). The
  * row-local form (the specs' twin `simhashExprComposed`) avoids the shuffle but runs
  * `bits` interpreted `aggregate` folds per document — O(n·bits)
  * lambda steps. This expression computes the fingerprint in ONE walk
  * per row (hash each token once, bump `bits` counters) inside
  * whole-stage codegen, turning the signature stage into a narrow
  * projection with no exchange at all.
  *
  * Values are IDENTICAL to both composed forms by construction: the
  * per-bit counters are integer sums of ±1 (fold-order-free), the
  * hash is the same [[Md5Hash32]], the sign rule (`> 0`) and bit
  * weights (`1 << j`) match, and a null TOKEN contributes −1 to every
  * bit exactly like the compositions' `when(h>>j % 2 = 1, 1)
  * .otherwise(−1)` null algebra (a null hash fails the condition). A
  * null token ARRAY yields a null fingerprint, matching the row-local
  * form on null text; the aggregation form's null-text rows never
  * reach the expression (the caller filters, preserving its row set).
  * OperatorSpecs pins equality against the aggregation form. */
case class SimhashFingerprint(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsStringArrayInput {

  require(bits >= 1 && bits <= 32, s"simhash needs 1 <= bits <= 32, got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    SimhashFingerprint.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashFingerprint.compute($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

object SimhashFingerprint {

  /** The packed fingerprint of one token array. */
  def compute(toks: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        // null hash fails every bit test in the composed when/otherwise
        var j = 0
        while (j < bits) { counts(j) -= 1; j += 1 }
      } else {
        val h = Md5Hash32.compute(toks.getUTF8String(i))
        var j = 0
        while (j < bits) {
          if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }
}
