package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** The native cosine_sim expression: SQL registration via GraftExtensions,
  * codegen and interpreted paths agreeing, float/double inputs, null and
  * edge-case semantics.
  */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("registered in SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  // The cases below read their vectors from a parquet file, so that
  // agreedDoubles runs the kernel's generated code and its interpreted
  // eval, and checks they agree bit for bit.

  test("orthogonal, opposite, identical vectors") {
    val in = viaParquet(Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 2.0), Array(-1.0, -2.0)),
      (Array(3.0, 4.0), Array(3.0, 4.0))).toDF("a", "b"))
    val got = agreedDoubles(in, expr("cosine_sim(a, b)"))
    assert(got.size === 3)
    got.zip(Seq(0.0, -1.0, 1.0)).foreach { case (g, want) =>
      assert(math.abs(g.get - want) <= 1e-12, s"got $g, want $want")
    }
  }

  test("float arrays widen to double (the embeddings path)") {
    val in = viaParquet(
      Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b"))
    val got = agreedDoubles(in, expr("cosine_sim(a, b)"))
    assert(math.abs(got.head.get - 1.0) < 1e-7)
  }

  test("null array yields null; scale invariance holds") {
    val in = viaParquet(Seq[(Array[Double], Array[Double])](
      (null, Array(1.0)),
      (Array(0.3, -0.7, 2.0), Array(1.1, 0.4, -0.2))).toDF("a", "b"))
    val c1 = agreedDoubles(in, expr("cosine_sim(a, b)"))
    val c2 = agreedDoubles(in,
      expr("cosine_sim(transform(a, x -> x * 17.0), b)"))
    assert(c1.head === None && c2.head === None)
    assert(math.abs(c1(1).get - c2(1).get) < 1e-12)
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
      viaParquet(Seq((a, b)).toDF("a", "b")), expr("cosine_sim(a, b)"))
    val evaluated = CosineSimilarity(
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
        _.expressions.exists(_.exists(_.isInstanceOf[CosineSimilarity])))
      case _ => false
    }, plan.toString)
  }

  test("empty array, NaN and ±0.0 agree on both paths") {
    val got = agreedDoubles(viaParquet(VectorEdges.rows.toDF("a", "b")),
      expr("cosine_sim(a, b)"))
    assert(VectorEdges.same(got,
      Seq(Double.NaN, Double.NaN, Double.NaN, 1.0)), got)
  }

  test("dense input (containsNull = false) compiles the loop") {
    val (in, want) = VectorEdges.dense(spark)
    val (dot, na, nb) = want.foldLeft((0.0, 0.0, 0.0)) {
      case ((d, p, q), (x, y)) => (d + x * y, p + x * x, q + y * y) }
    assert(agreedDoubles(in, expr("cosine_sim(a, b)")) ===
      Seq(Some(dot / (math.sqrt(na) * math.sqrt(nb)))))
  }

  test("rejects non-array inputs at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(1.0, array(1.0D))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("array"))
  }
}
