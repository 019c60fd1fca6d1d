package graft

import org.apache.spark.sql.functions._

/** The native l2_sq expression: SQL registration, bit-identity with the
  * HOF fold it replaced in the PQ kernels, float/double inputs, null and
  * edge semantics, and the dyadic-lattice exactness the PQ oracle's
  * dot-product spelling relies on.
  */
class L2SquaredSpec extends SparkSpec {
  import spark.implicits._

  test("registered in SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT l2_sq(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d").head
    assert(r.getDouble(0) === 25.0)
  }

  private def bits(xs: Seq[Option[Double]]): Seq[Option[Long]] =
    xs.map(_.map(java.lang.Double.doubleToRawLongBits))

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
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)
    val native = agreedDoubles(in, expr("l2_sq(a, b)"))
    assert(native.size === 3 && native.forall(_.isDefined))
    assert(bits(native) === bits(agreedDoubles(in, hof)),
      "native kernel diverged from the sequential HOF fold")
  }

  test("dyadic-lattice exactness: fold equals the dot-product spelling " +
    "the DuckDB oracle uses, bit for bit") {
    // values on the 2^-10 grid (the PQ pipeline's lattice): every term
    // and partial sum is exact, so Σ(a-b)² == a·a − 2·a·b + b·b exactly
    val a = Array.tabulate(16)(i => math.floor(math.sin(i) * 1024) / 1024)
    val b = Array.tabulate(16)(i => math.floor(math.cos(i) * 1024) / 1024)
    val in = viaParquet(Seq((a, b)).toDF("a", "b"))
    assert(agreedDoubles(in, expr("l2_sq(a, b)")) === agreedDoubles(in,
      expr("dot_prod(a, a) - 2 * dot_prod(a, b) + dot_prod(b, b)")))
  }

  test("float arrays widen to double (the embeddings path)") {
    val in = viaParquet(
      Seq((Array(1.5f, 2.0f), Array(2.0f, 0.5f))).toDF("a", "b"))
    assert(agreedDoubles(in, expr("l2_sq(a, b)")) === Seq(Some(2.5)))
  }

  test("null array yields null; mismatched lengths use the common " +
    "prefix; null ELEMENT propagates NULL") {
    val in = viaParquet(Seq[
        (Array[java.lang.Double], Array[java.lang.Double])](
      (null, Array(1.0)),
      (Array(2.0, 3.0, 99.0), Array(4.0, 5.0)),
      (Array(1.0, null, 3.0), Array(1.0, 1.0, 1.0)),
      (Array(2.0, 3.0, null), Array(4.0, 5.0))).toDF("a", "b"))
    assert(agreedDoubles(in, expr("l2_sq(a, b)")) ===
      Seq(None, Some(8.0), None, Some(8.0)))
  }

  test("empty array, NaN and ±0.0 agree on both paths") {
    val got = agreedDoubles(viaParquet(VectorEdges.rows.toDF("a", "b")),
      expr("l2_sq(a, b)"))
    assert(VectorEdges.same(got, Seq(0.0, Double.NaN, 0.0, 1.0)), got)
  }

  test("dense input (containsNull = false) compiles the branch-free loop") {
    val (in, want) = VectorEdges.dense(spark)
    assert(agreedDoubles(in, expr("l2_sq(a, b)")) === Seq(Some(
      want.map { case (x, y) => (x - y) * (x - y) }.sum)))
  }
}
