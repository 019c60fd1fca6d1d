package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native Catalyst expression: squared Euclidean distance of two numeric
  * arrays, callable as SQL `l2_sq(a, b)` — the PQ/IVF assignment and ADC
  * kernel ([[graft.ops.Similarity.pqCodebooks]]'s Σ(aᵢ−bᵢ)²), replacing
  * the interpreted `aggregate(zip_with(...))` fold that runs two lambda
  * dispatches per component on every (vector, centroid) candidate row.
  * A [[VectorKernel]].
  *
  * Numerics: a single left-to-right accumulation of (aᵢ−bᵢ)² — the
  * identical sequence of the HOF spelling it replaced (bit-identity
  * proven in L2SquaredSpec). On the dyadic lattice the PQ pipeline uses,
  * every term and partial sum is exact, so this also equals the oracle's
  * dot(a,a) − 2·dot(a,b) + dot(b,b) spelling bit-for-bit. A null ELEMENT
  * makes the result NULL.
  */
case class L2Squared(left: Expression, right: Expression)
  extends VectorKernel {

  override def prettyName: String = "l2_sq"

  override protected def nullElementYieldsNull: Boolean = true

  override protected def zero(): Array[Double] = new Array[Double](1)

  override protected def step(acc: Array[Double], x: Double, y: Double)
      : Unit = {
    val d = x - y
    acc(0) += d * d
  }

  override protected def finish(acc: Array[Double]): Double = acc(0)

  override protected def genFold(ctx: CodegenContext)
      : (String, (String, String) => String, String) = {
    val acc = ctx.freshName("acc")
    val d = ctx.freshName("d")
    (s"double $acc = 0.0;",
      (x, y) => s"double $d = $x\n    - $y;\n  $acc += $d * $d;", acc)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}
