package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ExpectsStringArrayInput
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature over a (distinct-)unit array: md5-derive a
  * 32-bit hash per unit, track the minimum of each of the `k` affine
  * permutations `(a_i·(h mod P) + b_i) mod P` across units
  * ([[PortableHash.permuted]]'s math, same fixed coefficients).
  *
  * Why native: the composed form (the specs' parity twin
  * `Dedup.minhashFromAggComposed`) EXPLODES every document into (id, unit)
  * rows and shuffles them into a k-column min aggregate — a full
  * exchange of the tokenized/shingled corpus that exists only to take
  * per-document minima. That exchange fronts the entire LSH family:
  * the signature faces (q21/q31), every banded candidate join
  * (q22/q24/q30/q32/q103/q104/q117/q138), and the stored minhash
  * index (q118). This expression computes all k minima in ONE walk
  * per document inside whole-stage codegen, so the signature stage
  * becomes a narrow projection with no exchange at all.
  *
  * Values are IDENTICAL to the aggregation form by construction: the
  * same [[Md5Hash32]] per unit, the same `coef(i)` affine lines, and
  * `min` is fold-order-free. Null algebra matches: a null unit's hash
  * is null, which `min` ignores (the walk skips it); a component with
  * no non-null contribution is null, exactly like `min` over an
  * all-null group. The aggregation form emits NO ROW for a document
  * whose unit array is empty or null (explode produces no group) —
  * that row-set rule lives in the CALLER, which filters on the cheap
  * equivalent predicate before projecting. OperatorSpecs pins
  * signature-frame equality on random corpora including null text and
  * shorter-than-shingle documents. */
case class MinhashMins(child: Expression, k: Int)
    extends UnaryExpression with ExpectsStringArrayInput {

  require(k >= 1, s"minhash needs k >= 1 permutations, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_mins"

  override protected def nullSafeEval(input: Any): Any =
    MinhashMins.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashMins.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinhashMins =
    copy(child = newChild)
}

object MinhashMins {

  /** Permutation coefficients flattened [a_0, b_0, a_1, b_1, ...] —
    * cached per k (k is a query-shape constant, so the map stays
    * tiny). MUST stay equal to [[PortableHash.coef]]. */
  private val coefCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def coefs(k: Int): Array[Long] =
    coefCache.computeIfAbsent(k, kk => {
      val out = new Array[Long](2 * kk)
      var i = 0
      while (i < kk) {
        val (a, b) = PortableHash.coef(i)
        out(2 * i) = a
        out(2 * i + 1) = b
        i += 1
      }
      out
    })

  /** The k per-permutation minima of one unit array (element null when
    * no non-null unit contributed). */
  def compute(units: ArrayData, k: Int): ArrayData = {
    val ab = coefs(k)
    val p = PortableHash.P
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val n = units.numElements()
    var u = 0
    while (u < n) {
      if (!units.isNullAt(u)) {
        any = true
        val hp = Md5Hash32.compute(units.getUTF8String(u)) % p
        var i = 0
        while (i < k) {
          val v = (ab(2 * i) * hp + ab(2 * i + 1)) % p
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      u += 1
    }
    if (any) ArrayData.toArrayData(mins)
    else new GenericArrayData(new Array[Any](k)) // all-null components
  }
}
