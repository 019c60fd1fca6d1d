package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native Catalyst expression: dot product of two numeric arrays, callable
  * as SQL `dot_prod(a, b)` — the linear-model scoring kernel
  * ([[graft.ops.Models.scoreLinear]]'s w·v), replacing the interpreted
  * `aggregate(zip_with(...))` fold that runs two lambda dispatches per
  * vector component on every corpus row. A [[VectorKernel]].
  *
  * Numerics: a single left-to-right double accumulation — the identical
  * summation sequence of both the HOF spelling it replaces (bit-identity
  * proven in DotProductSpec) and DuckDB's `list_dot_product`, so oracle
  * hashes are unchanged. A null ELEMENT makes the result NULL — the same
  * propagation the HOF fold gives (`x * null` poisons the running sum),
  * so any SQL caller sees a malformed vector as a detectable NULL score
  * instead of a silently-zeroed component.
  */
case class DotProduct(left: Expression, right: Expression)
  extends VectorKernel {

  override def prettyName: String = "dot_prod"

  override protected def nullElementYieldsNull: Boolean = true

  override protected def zero(): Array[Double] = new Array[Double](1)

  override protected def step(acc: Array[Double], x: Double, y: Double)
      : Unit = acc(0) += x * y

  override protected def finish(acc: Array[Double]): Double = acc(0)

  override protected def genFold(ctx: CodegenContext)
      : (String, (String, String) => String, String) = {
    val dot = ctx.freshName("dot")
    (s"double $dot = 0.0;", (x, y) => s"$dot += $x\n    * $y;", dot)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
