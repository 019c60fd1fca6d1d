package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.DotProduct

/** The native dot_prod expression: SQL registration, bit-identity with the
  * HOF fold it replaced in scoreLinear, float/double inputs, null and edge
  * semantics, interpreted-vs-codegen agreement.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("registered in SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT dot_prod(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head
    assert(r.getDouble(0) === 11.0)
  }

  private def bits(xs: Seq[Option[Double]]): Seq[Option[Long]] =
    xs.map(_.map(java.lang.Double.doubleToRawLongBits))

  private val hofFold =
    aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  // The cases below read their vectors from a parquet file, so that
  // agreedDoubles runs the kernel's generated code and its interpreted
  // eval, and checks they agree bit for bit.

  test("bit-identical to the aggregate(zip_with(...)) fold it replaced") {
    // adversarial magnitudes: summation-order-sensitive values — the two
    // spellings must accumulate in the same sequence, hence agree exactly
    val in = viaParquet(Seq(
      (Array(1e16, 1.0, -1e16, 3.5), Array(1.0, 1.0, 1.0, 1.0)),
      (Array(0.1, 0.2, 0.3), Array(-0.3, 0.2, -0.1)),
      (Array.tabulate(64)(i => math.sin(i + 1.0)),
        Array.tabulate(64)(i => math.cos(i * 2.0)))).toDF("a", "b"))
    val native = agreedDoubles(in, expr("dot_prod(a, b)"))
    assert(native.size === 3 && native.forall(_.isDefined))
    assert(bits(native) === bits(agreedDoubles(in, hofFold)),
      "native kernel diverged from the sequential HOF fold")
  }

  test("float arrays widen to double (the embeddings path)") {
    val in = viaParquet(
      Seq((Array(1.5f, 2.0f), Array(2.0f, 0.5f))).toDF("a", "b"))
    assert(agreedDoubles(in, expr("dot_prod(a, b)")) === Seq(Some(4.0)))
  }

  test("null array yields null; mismatched lengths use the common prefix") {
    val in = viaParquet(Seq[(Array[Double], Array[Double])](
      (null, Array(1.0)),
      (Array(2.0, 3.0, 99.0), Array(4.0, 5.0))).toDF("a", "b"))
    assert(agreedDoubles(in, expr("dot_prod(a, b)")) ===
      Seq(None, Some(23.0)))
  }

  test("null ELEMENT propagates NULL, matching the HOF fold") {
    // the fold poisons its running sum on x * NULL — the kernel must too;
    // a null element BEYOND the common prefix stays invisible
    val in = viaParquet(Seq(
      (Array[java.lang.Double](1.0, null, 3.0),
        Array[java.lang.Double](1.0, 1.0, 1.0)),
      (Array[java.lang.Double](2.0, 3.0, null),
        Array[java.lang.Double](4.0, 5.0))).toDF("a", "b"))
    assert(agreedDoubles(in, expr("dot_prod(a, b)")) ===
      Seq(None, Some(23.0)))
    assert(agreedDoubles(in, hofFold).head === None)
  }

  // over a parquet file, so generated code really runs: bits equal
  // across CODEGEN_ONLY, NO_CODEGEN and eval, and the compiled plan
  // holds the kernel inside a WholeStageCodegen stage
  test("interpreted eval agrees with the codegen result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a = Array(0.1, -0.5, 0.9, 2.0)
    val b = Array(1.0, 0.5, -0.3, 0.7)
    val (compiled, interpreted, plan) = inBothCodegenModes(
      viaParquet(Seq((a, b)).toDF("a", "b")), expr("dot_prod(a, b)"))
    val evaluated = DotProduct(
      Literal.create(a, ArrayType(DoubleType)),
      Literal.create(b, ArrayType(DoubleType))).eval(null)
      .asInstanceOf[Double]
    def bits(r: Row): Long =
      java.lang.Double.doubleToRawLongBits(r.getDouble(0))
    val want = java.lang.Double.doubleToRawLongBits(evaluated)
    assert(compiled.map(bits) === Seq(want))
    assert(interpreted.map(bits) === Seq(want))
    assert(plan.exists {
      case w: WholeStageCodegenExec => w.child.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[DotProduct])))
      case _ => false
    }, plan.toString)
  }

  test("empty array, NaN and ±0.0 agree on both paths") {
    val got = agreedDoubles(viaParquet(VectorEdges.rows.toDF("a", "b")),
      expr("dot_prod(a, b)"))
    assert(VectorEdges.same(got, Seq(0.0, Double.NaN, 0.0, 12.0)), got)
  }

  test("dense input (containsNull = false) compiles the branch-free loop") {
    val (in, want) = VectorEdges.dense(spark)
    assert(agreedDoubles(in, expr("dot_prod(a, b)")) ===
      Seq(Some(want.map { case (x, y) => x * y }.sum)))
  }

  test("rejects non-array inputs at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT dot_prod(1.0, array(1.0D))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("dot_prod") ||
      e.getMessage.toLowerCase.contains("array"))
  }
}
