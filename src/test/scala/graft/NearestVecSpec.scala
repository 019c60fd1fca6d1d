package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native nearest_cos / nearest_l2 kernels: SQL registration and
  * BIT-IDENTITY with the aggregate/window spellings they retired in the
  * Lloyd/PQ assign steps (max(struct(cos, -cell)) / min(struct(d2,
  * code)) / the rank-1 window), including the tie, NaN, null-vector and
  * empty-candidate edges — plus the end-to-end witness that the
  * kernel-assigned ivfCentroids / pqCodebooks chains reproduce the
  * retired spellings' trained tables exactly.
  */
class NearestVecSpec extends SparkSpec {
  import spark.implicits._

  test("registered in SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT nearest_cos(array(1.0D, 0.0D), array(
        |  named_struct('cell', CAST(0 AS BIGINT),
        |               'cvec', array(0.0D, 1.0D)),
        |  named_struct('cell', CAST(1 AS BIGINT),
        |               'cvec', array(1.0D, 0.1D)))) AS c""".stripMargin)
      .head
    assert(r.getLong(0) === 1L)
    val r2 = spark.sql(
      """SELECT nearest_l2(array(1.0D, 0.0D), array(
        |  named_struct('code', 0, 'cvec', array(0.0D, 1.0D)),
        |  named_struct('code', 1, 'cvec', array(1.0D, 0.1D)))) AS c"""
        .stripMargin).head
    assert(r2.getInt(0) === 1)
  }

  // candidate tables exercising ties (duplicate vectors), zero vectors
  // (NaN cosine), a null candidate vector, and unordered ids
  private def candTable: DataFrame = Seq(
    (3L, Array(0.5, 0.25, 0.0)),
    (1L, Array(0.5, 0.25, 0.0)), // exact tie with cell 3 -> 1 must win
    (2L, Array(0.0, 0.0, 0.0)), // zero vector: cosine NaN (ranks TOP)
    (7L, Array(-0.5, 1.0, 0.25)),
    (5L, null.asInstanceOf[Array[Double]]) // null vec: cos NULL (ranks last)
  ).toDF("cell", "cvec")

  private def vecs: DataFrame = Seq(
    (10L, Array(0.5, 0.25, 0.0)),
    (11L, Array(-1.0, 2.0, 0.5)),
    (12L, Array(0.0, 0.0, 0.0)), // zero query: NaN against everything
    (13L, Array(0.25, -0.125, 1.0))
  ).toDF("id", "v")

  test("nearest_cos ≡ max(struct(cosine_sim, -cell)) over ties, NaN, " +
    "and null candidate vectors (the ivfCentroids assign contract)") {
    val old = vecs.crossJoin(broadcast(candTable))
      .withColumn("__cos", expr("cosine_sim(v, cvec)"))
      .groupBy(col("id"))
      .agg(max(struct(col("__cos"), (lit(-1L) * col("cell")).as("negc")))
        .as("__m"))
      .select(col("id"), (lit(-1L) * col("__m.negc")).as("cell"))
    val cands = broadcast(candTable.agg(sort_array(collect_list(
      struct(col("cell"), col("cvec")))).as("__cands")))
    val knl = vecs.crossJoin(cands)
      .select(col("id"),
        call_function("nearest_cos", col("v"), col("__cands")).as("cell"))
    val j = old.withColumnRenamed("cell", "old_cell")
      .join(knl, Seq("id"))
    assert(j.filter(col("old_cell") =!= col("cell")).count() === 0L,
      j.collect().mkString("\n"))
  }

  test("nearest_l2 ≡ min(struct(l2_sq, code)) over ties and null " +
    "candidate vectors (the pqCodebooks assign contract)") {
    val cd = candTable.select(col("cell").cast("int").as("code"),
      col("cvec"))
    val old = vecs.crossJoin(broadcast(cd))
      .withColumn("__d2", expr("l2_sq(v, cvec)"))
      .groupBy(col("id"))
      .agg(min(struct(col("__d2"), col("code"))).as("__b"))
      .select(col("id"), col("__b.code").as("code"))
    val cands = broadcast(cd.agg(sort_array(collect_list(
      struct(col("code"), col("cvec")))).as("__cands")))
    val knl = vecs.crossJoin(cands)
      .select(col("id"),
        call_function("nearest_l2", col("v"), col("__cands")).as("code"))
    val j = old.withColumnRenamed("code", "old_code")
      .join(knl, Seq("id"))
    assert(j.filter(col("old_code") =!= col("code")).count() === 0L,
      j.collect().mkString("\n"))
  }

  test("nearest_cos ≡ the rank-1 (cos DESC, cell) window (the " +
    "inverted-file contract), on the real embeddings") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir).limit(300)
    val cents = graft.ops.Similarity.ivfCentroids(emb, "vec_id",
      "embedding", nCells = 8, iters = 1, grid = Some(1024))
    val w = Window.partitionBy("__id")
      .orderBy(col("__cos").desc, col("cell"))
    val old = emb.select(col("vec_id").as("__id"),
        transform(col("embedding"), x => x.cast("double")).as("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("__cos", expr("cosine_sim(__v, cvec)"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__id"), col("cell").as("old_cell"))
    val cands = broadcast(cents.agg(sort_array(collect_list(
      struct(col("cell"), col("cvec")))).as("__cands")))
    val knl = emb.select(col("vec_id").as("__id"),
        transform(col("embedding"), x => x.cast("double")).as("__v"))
      .crossJoin(cands)
      .select(col("__id"),
        call_function("nearest_cos", col("__v"), col("__cands")).as("cell"))
    assert(old.join(knl, Seq("__id"))
      .filter(col("old_cell") =!= col("cell")).count() === 0L)
  }

  test("interpreted eval agrees with the codegen result (nearest_cos " +
    "and nearest_l2 over ties, NaN and a null candidate vector)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    import graft.functions.NearestVec
    val cands = candTable.agg(sort_array(collect_list(
      struct(col("cell"), col("cvec")))).as("__cands"))
    val candsRow = cands.head
    val candsLit = Literal.create(candsRow.getSeq[Row](0),
      cands.schema("__cands").dataType)
    for (fn <- Seq("nearest_cos", "nearest_l2")) {
      // a projection over a join is compiled, not folded into a local
      // relation by the optimizer's interpreted evaluation
      val compiled = vecs.crossJoin(cands)
        .select(col("id"), expr(s"$fn(v, __cands)").as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      vecs.collect().foreach { r =>
        val e = NearestVec(Literal.create(r.getSeq[Double](1),
          ArrayType(DoubleType, containsNull = false)), candsLit,
          if (fn == "nearest_cos") "cos" else "l2")
        assert(e.eval(null) === compiled(r.getLong(0)),
          s"$fn for id ${r.getLong(0)}")
      }
    }
  }

  test("NULL v and empty candidate list return NULL; float candidate " +
    "arrays widen") {
    assert(spark.sql(
      """SELECT nearest_cos(CAST(NULL AS ARRAY<DOUBLE>), array(
        |  named_struct('cell', CAST(0 AS BIGINT),
        |               'cvec', array(1.0D))))""".stripMargin)
      .head.isNullAt(0))
    assert(spark.sql(
      """SELECT nearest_l2(array(1.0D), CAST(array() AS
        |  ARRAY<STRUCT<cell: BIGINT, cvec: ARRAY<DOUBLE>>>))"""
        .stripMargin).head.isNullAt(0))
    val f = Seq((Array(1.0f, 0.0f), Seq((0L, Array(0.9f, 0.1f)),
      (1L, Array(-1.0f, 0.0f))))).toDF("v", "cands")
    assert(f.select(expr("nearest_cos(v, cands)")).head.getLong(0) === 0L)
  }

  test("end-to-end: the kernel-assigned ivfCentroids and pqCodebooks " +
    "chains are deterministic across runs (the per-assign equality " +
    "with the retired spellings is pinned by the A/B tests above; the " +
    "chain-level equality witness is the oracle, which replays the OLD " +
    "aggregate semantics in SQL and stays hash-green tri-scale)") {
    val emb = Tables.embeddings(spark, sfDir).limit(400)
    val t1 = graft.ops.Similarity.ivfCentroids(emb, "vec_id",
      "embedding", nCells = 8, iters = 2, grid = Some(1024)).collect()
      .map(_.toString).sorted
    val t2 = graft.ops.Similarity.ivfCentroids(emb, "vec_id",
      "embedding", nCells = 8, iters = 2, grid = Some(1024)).collect()
      .map(_.toString).sorted
    assert(t1 === t2)
    val cb1 = graft.ops.Similarity.pqCodebooks(emb, "vec_id",
      "embedding", m = 4, nCodes = 8, iters = 2, grid = 1024).collect()
      .map(_.toString).sorted
    val cb2 = graft.ops.Similarity.pqCodebooks(emb, "vec_id",
      "embedding", m = 4, nCodes = 8, iters = 2, grid = 1024).collect()
      .map(_.toString).sorted
    assert(cb1 === cb2)
  }
}
