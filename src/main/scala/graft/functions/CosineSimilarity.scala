package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native Catalyst expression: cosine similarity of two numeric arrays in a
  * single fused pass (dot product and both norms in one loop), callable as
  * SQL `cosine_sim(a, b)`. A [[VectorKernel]].
  *
  * Why a custom expression (SURVEY §2.8 policy): the built-in spelling —
  * `aggregate(zip_with(...))` — is an interpreted lambda per element on the
  * hot pair-join path, and flat-column unrolling costs one projected column
  * per dimension per side.
  *
  * Numerics: accumulates left-to-right in doubles, `dot / (sqrt(na) *
  * sqrt(nb))` — the same sequence DuckDB's `list_dot_product(a,b) /
  * (sqrt(list_dot_product(a,a)) * sqrt(list_dot_product(b,b)))` evaluates,
  * so oracle comparisons match bit-for-bit. Zero-norm input ⇒ NaN (caller
  * filters). Null ELEMENTS are read as 0 (embeddings are dense — document,
  * don't branch, in the hot loop).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends VectorKernel {

  override def prettyName: String = "cosine_sim"

  override protected def nullElementYieldsNull: Boolean = false

  override protected def zero(): Array[Double] = new Array[Double](3)

  override protected def step(acc: Array[Double], x: Double, y: Double)
      : Unit = {
    acc(0) += x * y
    acc(1) += x * x
    acc(2) += y * y
  }

  override protected def finish(acc: Array[Double]): Double =
    acc(0) / (math.sqrt(acc(1)) * math.sqrt(acc(2)))

  override protected def genFold(ctx: CodegenContext)
      : (String, (String, String) => String, String) = {
    val dot = ctx.freshName("dot")
    val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val xi = ctx.freshName("xi")
    val yi = ctx.freshName("yi")
    (s"double $dot = 0.0; double $na = 0.0; double $nb = 0.0;",
      (x, y) => s"""double $xi = $x;
         |  double $yi = $y;
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;"""
        .stripMargin,
      s"$dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb))")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
