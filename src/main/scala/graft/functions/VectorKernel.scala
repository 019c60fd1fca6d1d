package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** One left-to-right pass over the common prefix of two numeric arrays,
  * folded into a double: the base of [[CosineSimilarity]] (`cosine_sim`),
  * [[DotProduct]] (`dot_prod`) and [[L2Squared]] (`l2_sq`).
  *
  * It owns what the three share. Each side must be array<float> or
  * array<double>; float elements are widened to double before any
  * arithmetic. A NULL array yields NULL, and mismatched lengths use the
  * common prefix. When [[nullElementYieldsNull]] holds, a NULL element
  * inside the prefix makes the result NULL; the per-element check is
  * emitted only for a side whose type statically `containsNull`, so a
  * dense loop carries no branch. Otherwise a NULL element is read as 0.
  *
  * A kernel supplies its accumulators, the step applied to each widened
  * pair, and the finish, once for [[eval]] and once for generated code.
  */
abstract class VectorKernel extends BinaryExpression {

  /** Whether a NULL element inside the common prefix yields NULL. */
  protected def nullElementYieldsNull: Boolean

  /** The interpreted fold: fresh accumulators, one step per element pair,
    * and the result read from the accumulators.
    */
  protected def zero(): Array[Double]
  protected def step(acc: Array[Double], x: Double, y: Double): Unit
  protected def finish(acc: Array[Double]): Double

  /** The generated fold: accumulator declarations, the loop body over the
    * widened element expressions, and the result expression.
    */
  protected def genFold(ctx: CodegenContext)
      : (String, (String, String) => String, String)

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  private def sideContainsNull(dt: DataType): Boolean = dt match {
    case ArrayType(_, n) => n
    case _ => false
  }

  @transient private lazy val leftElem = elemType(left.dataType).get
  @transient private lazy val rightElem = elemType(right.dataType).get
  @transient private lazy val checkLeft =
    nullElementYieldsNull && sideContainsNull(left.dataType)
  @transient private lazy val checkRight =
    nullElementYieldsNull && sideContainsNull(right.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  // nullable even when both inputs are, if a null ELEMENT yields NULL
  override def nullable: Boolean =
    left.nullable || right.nullable || checkLeft || checkRight

  private def get(a: ArrayData, elem: DataType, i: Int): Double = elem match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val acc = zero()
    var i = 0
    while (i < n) {
      if ((checkLeft && x.isNullAt(i)) || (checkRight && y.isNullAt(i)))
        return null
      step(acc, get(x, leftElem, i), get(y, rightElem, i))
      i += 1
    }
    finish(acc)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      def read(arr: String, dt: DataType, i: String): String = dt match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _ => s"$arr.getDouble($i)"
      }
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val (init, body, result) = genFold(ctx)
      // `ev.isNull = true` on a hit is the nullSafeCodeGen-sanctioned way
      // for result code to change nullability
      val nullChecks = Seq(
        if (checkLeft) Some(s"$x.isNullAt($i)") else None,
        if (checkRight) Some(s"$y.isNullAt($i)") else None
      ).flatten
      val guard =
        if (nullChecks.isEmpty) ""
        else s"""if (${nullChecks.mkString(" || ")}) {
           |    ${ev.isNull} = true; break;
           |  }
           |  """.stripMargin
      val assign =
        if (nullElementYieldsNull) s"""if (!${ev.isNull}) {
           |  ${ev.value} = $result;
           |}""".stripMargin
        else s"${ev.value} = $result;"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |$init
         |for (int $i = 0; $i < $n; $i++) {
         |  $guard${body(read(x, leftElem, i), read(y, rightElem, i))}
         |}
         |$assign
       """.stripMargin
    })
}
