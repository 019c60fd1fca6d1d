package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** IVF-ANN gates. The trained centroids are float-sum order dependent (so
  * no cross-engine oracle), but the SEARCH structure is exactly testable:
  * probing every cell must reproduce the brute-force top-k verbatim,
  * whatever the centroids converged to.
  */
class SimilaritySpec extends SparkSpec {

  test("meanPoolEmbeddings: identical members pool to themselves, the " +
    "unit vector has norm 1, dims complete") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val chunks = Seq(
      (1L, Array(3.0f, 4.0f)), (1L, Array(3.0f, 4.0f)),
      (2L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("k", "v")
    val out = graft.ops.Similarity.meanPoolEmbeddings(chunks, "k", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(out.size === 4)
    assert(out((1L, 0)).getAs[Double]("m") === 3.0)
    assert(out((1L, 1)).getAs[Double]("m") === 4.0)
    // unit form of (3,4): (0.6, 0.8)
    assert(out((1L, 0)).getAs[Double]("m_unit") === 0.6)
    assert(out((1L, 1)).getAs[Double]("m_unit") === 0.8)
    // mean of the two unit basis vectors: (0.5, 0.5), unit ≈ (√½, √½)
    assert(out((2L, 0)).getAs[Double]("m") === 0.5)
    assert(math.abs(out((2L, 0)).getAs[Double]("m_unit")
      - math.sqrt(0.5)) < 1e-6)
    val unitNorms = graft.ops.Similarity
      .meanPoolEmbeddings(Tables.embeddings(spark, sfDir), "label",
        "embedding")
      .groupBy("key").agg(sum(col("m_unit") * col("m_unit")).as("n2"))
      .collect().map(_.getAs[Double]("n2"))
    assert(unitNorms.forall(n2 => math.abs(n2 - 1.0) < 1e-4),
      "every pooled unit vector must have L2 norm 1")
  }

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queries = emb.filter(col("vec_id") % 20 === 0)

  test("ivfCentroids: nCells = 0 fails with the declared require, not an " +
    "array-index error from an empty candidate array") {
    val e = intercept[IllegalArgumentException](
      Similarity.ivfCentroids(emb, "vec_id", "embedding", nCells = 0)
        .collect())
    assert(e.getMessage.contains("ivfCentroids needs nCells >= 1"))
  }

  test("ivfCentroids: nCells centroids of the corpus dimensionality") {
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nCells = 8, iters = 2).collect()
    assert(cents.length === 8)
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    assert(cents.forall(_.getSeq[Double](1).length === dims))
  }

  test("ivfTopK with nprobe = nCells equals exact brute force verbatim") {
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      k = 5).collect().map(_.toString).toSeq
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 4, nprobe = 4, iters = 2)
      .collect().map(_.toString).toSeq
    assert(full === exact)
  }

  test("annRecall: counts agree with a hand-joined recall, and the " +
    "gate's configuration clears the floor") {
    val pred = col("vec_id") % 20 === 0
    val r = Similarity.annRecall(emb, pred, "vec_id", "embedding", k = 5)
      .head
    val exact = Similarity.cosineTopK(emb, emb.filter(pred), "vec_id",
      "embedding", k = 5).select("query_id", "cand_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ann = Similarity.annTopKWithin(emb, pred, "vec_id", "embedding",
      k = 5).select("query_id", "cand_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.getAs[Long]("n_exact") === exact.size.toLong)
    assert(r.getAs[Long]("n_hits") === (exact & ann).size.toLong)
    assert(r.getAs[Double]("recall") ===
      math.rint((exact & ann).size.toDouble / exact.size * 1e4) / 1e4)
    info(s"ANN recall@5 (8 tables × 4 planes) = ${r.getAs[Double]("recall")}")
    assert(r.getAs[Double]("recall") >= 0.4, "gate config below the floor")
  }

  test("ivfTopK recall floor at nprobe < nCells") {
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      k = 5).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 8, nprobe = 4, iters = 2)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall@5 (nprobe 4/8) = $recall")
    assert(recall >= 0.4, s"recall $recall below floor")
    // every IVF hit must be a genuine corpus neighbor pair (subset of the
    // candidate universe — no fabricated ids)
    assert(ivf.forall { case (q, c) => q != c })
  }

  test("topPrincipalComponent: rank-1 data recovers its direction " +
    "EXACTLY in one round and stays fixed") {
    import spark.implicits._
    // both vectors lie on u = (0.6, 0.8): M = 125*u*u', so every power
    // step lands exactly on u (integer intermediates, exact norm 75/125)
    val e = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(6.0f, 8.0f)))
      .toDF("vec_id", "embedding")
    for (iters <- Seq(1, 3)) {
      val v = graft.ops.Similarity
        .topPrincipalComponent(e, "vec_id", "embedding", iters)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(v(0) === 0.6 && v(1) === 0.8, s"iters=$iters got $v")
    }
  }

  test("quantizeEmbeddings: grid endpoints code 0/255 with zero error, " +
    "midpoints round to the nearest code, constant dims are exact") {
    import spark.implicits._
    // dim0 spans [0, 2]; dim1 is constant (degenerate grid)
    val e = Seq((1L, Seq(0.0f, 5.0f)), (2L, Seq(1.0f, 5.0f)),
      (3L, Seq(2.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity
      .quantizeEmbeddings(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // codes: 0 | round(127.5)=128 | 255 on dim0, 0 on the constant dim
    assert(out.map(_._2) === Seq(0L, 128L, 255L))
    // endpoints and constant dims reconstruct exactly
    assert(out(0)._3 === 0.0 && out(0)._4 === 0.0)
    assert(out(2)._3 === 0.0 && out(2)._4 === 0.0)
    // midpoint error: recon = 128·2/255, err ≈ −0.003922, mse = err²/2
    // ≈ 7.689e-6 → 0.000008 at the 6-decimal output rounding
    assert(out(1)._4 === 0.003922)
    assert(out(1)._3 === 0.000008)
  }

  test("truncationEnergy: closed-form energy ratios, threshold counting") {
    import spark.implicits._
    // v1 = (3,4): k=1 keeps 9/25; v2 = (1,0): k=1 keeps everything
    val e = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ops.Similarity
      .truncationEnergy(e, "vec_id", "embedding", Seq(1, 2))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(out === Seq(
      (1, 0.68, 0.36, 1L),  // avg of 0.36 and 1.0; only v2 clears 90%
      (2, 1.0, 1.0, 2L)))
  }

  test("centroidSimilarity: centroids are per-dim means; orthogonal " +
    "label clouds score 0, colinear ones score 1") {
    import spark.implicits._
    val e = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(3.0f, 0.0f)),   // centroid (2,0)
      (1, Array(0.0f, 2.0f)), (1, Array(0.0f, 4.0f)),   // centroid (0,3)
      (2, Array(4.0f, 0.0f))                            // centroid (4,0)
    ).toDF("label", "embedding")
    val out = graft.ops.Similarity
      .centroidSimilarity(e, "label", "embedding")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSet === Set((0, 1, 0.0), (0, 2, 1.0), (1, 2, 0.0)))
  }

  test("pqTopK recall floor against exact cosine top-k on real data") {
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      k = 5).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 8, nprobe = 4, ivfIters = 2, m = 8, nCodes = 32,
      pqIters = 2)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"IVF-PQ recall@5 (nprobe 4/8, 8×32 codes) = $recall")
    // compressed-index recall is necessarily below IVF's (quantization
    // error on top of cell pruning); the floor proves the codes carry
    // real signal rather than collapsing to noise
    assert(recall >= 0.3, s"recall $recall below floor")
    assert(pq.forall { case (q, c) => q != c })
  }

  test("labelNoiseScreen: a mislabeled point inside a foreign cluster " +
    "is flagged with full disagreement; clean points are not") {
    import spark.implicits._
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val emb = ((1L to 5L).map(i => (i, a, 0)) ++
      (11L to 15L).map(i => (i, b, 1)) ++
      Seq((20L, a, 1))) // sits in cluster A, labeled like B
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoiseScreen(emb, col("vec_id") >= 0,
      "vec_id", "embedding", "label", k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getInt(5),
        r.getBoolean(6))).toMap
    assert(out(20L) === ((3L, 0, true)),
      "the mislabel: 3/3 neighbors disagree, majority 0, flagged")
    assert(out(1L) === ((0L, 0, false)), "clean A point keeps label 0")
    assert(out(11L)._3 === false, "clean B point not flagged")
  }

  test("jlDistortion: a single-coordinate difference projects to ratio " +
    "exactly 1 under ±1 signs; real-data ratios bracket 1 with " +
    "mean-square near 1") {
    import spark.implicits._
    // diff = c·e_d ⇒ dot(diff, w_r)² = c² for every ±1 row ⇒ the k-dim
    // mean IS the original squared distance — ratio exactly 1
    val base = Array.tabulate(8)(i => i * 0.25f)
    val bumped = base.clone(); bumped(3) += 1.0f
    val tiny = Seq((1L, base), (2L, bumped)).toDF("vec_id", "embedding")
    val t = Similarity.jlDistortion(tiny, col("vec_id") === 1,
      col("vec_id") === 2, "vec_id", "embedding", kDims = 4).head
    assert(t.getAs[Long]("n_pairs") === 1L)
    assert(t.getAs[Double]("min_ratio") === 1.0)
    assert(t.getAs[Double]("max_ratio") === 1.0)
    // fixture corpus: 100 sampled pairs, unbiased projection
    val r = Similarity.jlDistortion(emb, col("vec_id") % 50 === 0,
      col("vec_id") % 50 === 7, "vec_id", "embedding", kDims = 16).head
    assert(r.getAs[Long]("n_pairs") === 100L)
    assert(r.getAs[Double]("min_ratio") < 1.0 &&
      r.getAs[Double]("max_ratio") > 1.0)
    assert(math.abs(r.getAs[Double]("avg_sq_ratio") - 1.0) < 0.35,
      "E[ratio²] ≈ 1 — the JL unbiasedness")
  }

  test("lshQualitySweep: recall monotone in the table count (prefix " +
    "sub-indexes nest) and the top config agrees with annRecall") {
    val sweep = Similarity.lshQualitySweep(emb,
      col("vec_id") % 100 === 0, "vec_id", "embedding", k = 5,
      tablesGrid = Seq(2, 4, 8), planes = 4).collect()
      .map(r => r.getInt(0) -> (r.getLong(5), r.getDouble(6))).toMap
    assert(sweep.keySet === Set(2, 4, 8))
    assert(sweep(2)._2 <= sweep(4)._2 && sweep(4)._2 <= sweep(8)._2,
      s"recall must be monotone in tables: $sweep")
    val rec = Similarity.annRecall(emb, col("vec_id") % 100 === 0,
      "vec_id", "embedding", k = 5, tables = 8, planes = 4).head
    assert(rec.getAs[Long]("n_hits") === sweep(8)._1,
      "the 8-table sweep point must reproduce annRecall's hit count")
  }

  test("annQualitySweep: full grid shape, recall monotone in refine, " +
    "production config (nprobe=16, refine=8, 16x64 codes) clears 0.9, " +
    "and a sweep cell agrees with the standalone pqTopK run") {
    val sweep = Similarity.annQualitySweep(emb,
      col("vec_id") % 100 === 0, "vec_id", "embedding", k = 5,
      nCells = 16, nprobes = Seq(4, 8, 16), refines = Seq(4, 8, 16),
      ivfIters = 2, m = 16, nCodes = 64, pqIters = 2).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(4), r.getLong(6), r.getDouble(7)))).toMap
    assert(sweep.size === 9, "3x3 grid -> 9 rows")
    // shortlists nest as refine grows (same nprobe), and a true top-k
    // pair once ranked in can never be displaced by the exact re-rank
    // of a superset, so recall is monotone non-decreasing in refine
    for (np <- Seq(4, 8, 16); Seq(r1, r2) <- Seq(4, 8, 16).sliding(2))
      assert(sweep((np, r1))._3 <= sweep((np, r2))._3,
        s"recall not monotone in refine at nprobe=$np")
    val (nExact, _, topRecall) = sweep((16, 8))
    info(s"production config (16, 8): recall = $topRecall")
    assert(topRecall >= 0.9,
      s"production config recall $topRecall below the 0.9 target")
    // cross-check one cell against the standalone pipeline it summarizes
    val exact = Similarity.cosineTopK(emb,
      emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
      k = 5).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size.toLong === nExact)
    val pq = Similarity.pqTopK(emb,
      emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
      k = 5, nCells = 16, nprobe = 8, ivfIters = 2, m = 16,
      nCodes = 64, pqIters = 2, refine = 8)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & pq).size.toLong === sweep((8, 8))._2,
      "sweep cell (8, 8) must count the same hits as the standalone run")
  }

  test("pqCodebooks: m codebooks of dim/m-length centroids, codes in " +
    "[0, nCodes)") {
    import spark.implicits._
    val emb = Seq.tabulate(12)(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 8 + d) % 5) * 0.25f)))
      .toDF("vec_id", "embedding")
    val cb = graft.ops.Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 2, nCodes = 4, iters = 2).collect()
    assert(cb.map(_.getInt(0)).toSet === Set(0, 1))
    assert(cb.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 4))
    assert(cb.forall(r => r.getSeq[Double](2).length === 4))
  }

  test("pqTopK: zero quantization error ranks an exact duplicate first " +
    "with cosine exactly 1; ranks are dense and similarities " +
    "non-increasing") {
    import spark.implicits._
    // 5 distinct vectors + v6 = copy of v1, all on the 1/4 grid; with
    // nCodes = 6 every subvector is a seed, each Lloyd cluster stays
    // pure, so ADC quantization error is exactly 0
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0.25f),
      2L -> Array(0f, 1f, 0f, 0f, 0f, 0f, 0.25f, 0f),
      3L -> Array(0f, 0f, 1f, 0f, 0f, 0.25f, 0f, 0f),
      4L -> Array(0f, 0f, 0f, 1f, 0.25f, 0f, 0f, 0f),
      5L -> Array(0.5f, 0.5f, 0f, 0f, 0f, 0f, 0.5f, 0.5f),
      6L -> Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0.25f)
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.pqTopK(vecs,
      vecs.filter($"vec_id" === 6L), "vec_id", "embedding", k = 3,
      nCells = 1, nprobe = 1, ivfIters = 1, m = 2, nCodes = 6,
      pqIters = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.map(_._2).toSeq === Seq(1, 2, 3), "dense ranks")
    assert(out(0)._3 === 1L && out(0)._4 === 1.0,
      "the exact duplicate wins the refine re-rank with cosine 1")
    assert(out.sliding(2).forall(p => p(0)._4 >= p(1)._4),
      "cos_sim non-increasing in rank")
    // determinism: a second run returns the identical frame
    val out2 = graft.ops.Similarity.pqTopK(vecs,
      vecs.filter($"vec_id" === 6L), "vec_id", "embedding", k = 3,
      nCells = 1, nprobe = 1, ivfIters = 1, m = 2, nCodes = 6,
      pqIters = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq === out2.toSeq)
  }

  test("clusterProfile: two planted orthogonal clusters separate, " +
    "shares close to 1, cohesion ordered") {
    import spark.implicits._
    // 4 vectors near +x, 4 near +y (orthogonal clouds), nCells = 2
    val rows = (0 until 4).map(i =>
      (i.toLong, Array(1.0f, 0.02f * i, 0f, 0f))) ++
      (4 until 8).map(i => (i.toLong, Array(0.02f * i, 1.0f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val prof = Similarity.clusterProfile(df, "vec_id", "embedding",
      nCells = 2, iters = 3, grid = 1024).collect()
    assert(prof.length === 2)
    assert(prof.map(_.getAs[Long]("n")).sum === 8L)
    assert(math.abs(prof.map(_.getAs[Double]("share")).sum - 1.0) < 1e-5)
    // near-orthogonal planted clouds: every member sits close to its own
    // centroid, far from the other — cohesion must be high in both cells
    assert(prof.forall(_.getAs[Double]("mean_cos") > 0.9))
    assert(prof.forall(r =>
      r.getAs[Double]("min_cos") <= r.getAs[Double]("mean_cos")))
  }

  test("centroidDrift: the majority-aligned group scores high cosine " +
    "to the global centroid, the off-axis group low; a near-cancelling " +
    "group collapses its norm ratio") {
    import spark.implicits._
    // group 1: 6 vectors on +x (the corpus direction); group 2: 2 on
    // +y (off-axis); group 3: +x and -x nearly cancelling
    val rows = (1 to 6).map(i => (i.toLong, Array(1.0f, 0f, 0f, 0f), 1)) ++
      Seq((7L, Array(0f, 1.0f, 0f, 0f), 2), (8L, Array(0f, 1.0f, 0f, 0f), 2),
        (9L, Array(1.0f, 0f, 0f, 0f), 3), (10L, Array(-0.9f, 0f, 0f, 0f), 3))
    val out = Similarity.centroidDrift(
      rows.toDF("vec_id", "embedding", "label"), "label", "embedding")
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n"), r.getAs[Double]("cos_to_global"),
          r.getAs[Double]("norm_ratio"))).toMap
    assert(out(1)._1 === 6L)
    assert(out(1)._2 > 0.9, "the majority group defines the global axis")
    assert(out(2)._2 < 0.5, "the off-axis group must score low")
    assert(out(3)._3 < 0.2,
      "a near-cancelling group embeds near the origin (norm collapse)")
    assert(out(1)._3 > out(3)._3)
  }

  test("silhouette: planted orthogonal clouds score near 1, a merged " +
    "cloud split in two scores near 0") {
    import spark.implicits._
    // 4 vectors near +x, 4 near +y — separated structure
    val apart = ((0 until 4).map(i =>
      (i.toLong, Array(1.0f, 0.02f * i, 0f, 0f))) ++
      (4 until 8).map(i => (i.toLong, Array(0.02f * i, 1.0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val sa = Similarity.silhouette(apart, "vec_id", "embedding",
      nCells = 2, iters = 3).collect()
    assert(sa.length === 2)
    assert(sa.forall(_.getAs[Double]("silhouette") > 0.8),
      "orthogonal clouds: own-cos ~1, other-cos ~0")
    assert(sa.forall(r => r.getAs[Double]("min_silhouette") <=
      r.getAs[Double]("silhouette")))
    // one merged cloud forced into 2 cells — interchangeable centroids
    val merged = (0 until 8).map(i =>
      (i.toLong, Array(1.0f, 0.01f * i, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val sm = Similarity.silhouette(merged, "vec_id", "embedding",
      nCells = 2, iters = 3).collect()
    assert(sm.map(_.getAs[Long]("n")).sum === 8L)
    assert(sm.forall(_.getAs[Double]("silhouette") < 0.05),
      "a cosmetic split must measure near-zero separation")
    assert(sm.forall(_.getAs[Double]("mean_cos_own") > 0.99))
  }

  test("autoCells: power-of-two occupancy sizing matches the ceil-log2 " +
    "definition at boundaries, and semDedupAuto equals semDedup at the " +
    "derived count") {
    import spark.implicits._
    // boundaries: v = 1, exact powers, power+1, and the min floor
    assert(Similarity.autoCells(1L, 4, 64) === 4)
    assert(Similarity.autoCells(64L, 1, 64) === 1)   // v=1 -> 2^0
    assert(Similarity.autoCells(65L, 1, 64) === 2)   // v=2
    assert(Similarity.autoCells(256L, 1, 64) === 4)  // v=4 exact
    assert(Similarity.autoCells(257L, 1, 64) === 8)  // v=5 -> 8
    assert(Similarity.autoCells(520L, 4, 64) === 16) // the gate shape
    assert(Similarity.autoCells(2080L, 4, 64) === 64)
    intercept[IllegalArgumentException] {
      Similarity.autoCells(10L, 4, 63) // non-power-of-two target
    }
    // semDedupAuto IS semDedup at the derived count — same output
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", lit(1L).as("q"))
    val n = emb.count()
    val auto = Similarity.semDedupAuto(emb, "vec_id", "embedding", "q",
      threshold = 0.95, minCells = 4, targetPerCell = 64, iters = 1)
      .collect().toSeq
    val fixed = Similarity.semDedup(emb, "vec_id", "embedding", "q",
      threshold = 0.95,
      nCells = Similarity.autoCells(n, 4, 64), iters = 1)
      .collect().toSeq
    assert(auto === fixed)
  }

  test("semDedup: within-cell paraphrase pair pruned to the higher-" +
    "quality member (ties to min id); multi-probe examines the " +
    "cross-cell near-pair single-probe misses") {
    import spark.implicits._
    val fx = Seq(
      // x-axis paraphrase pair ~1 degree apart: quality decides (9 > 5)
      (1L, Array(1.0f, 0.0f), 5L),
      (2L, Array(0.999f, 0.02f), 9L),
      // y-axis paraphrase pair, TIED quality: min id (3) survives
      (3L, Array(0.0f, 1.0f), 5L),
      (4L, Array(0.02f, 0.999f), 5L),
      // near-pair at 28 and 42 degrees (cos 0.9703 >= threshold) that
      // straddles the converged cell boundary: single-probe never
      // examines it — the occupancy-bound price; the top-2 probe pass
      // puts both members in a shared cell and prunes it. Angles were
      // chosen by replaying the exact dyadic Lloyd (md5 seeds, 1/1024
      // grid) offline so the split is a verified fixed point, not luck.
      (5L, Array(0.8829f, 0.4695f), 5L),
      (6L, Array(0.7431f, 0.6691f), 5L),
      // cluster anchors at -30 and 110 degrees: pin the converged
      // centroids so the boundary falls between 5 and 6; both anchors
      // are > 18.2 degrees (cos 0.95) from every other point, so they
      // join no duplicate set themselves
      (7L, Array(0.866f, -0.5f), 5L),
      (8L, Array(-0.342f, 0.9397f), 5L)
    ).toDF("vec_id", "embedding", "quality")
    // default multi-probe (top-2): the boundary-straddling pair 5/6 IS
    // examined — tied quality, min id 5 survives
    val out = Similarity.semDedup(fx, "vec_id", "embedding", "quality",
      threshold = 0.95, nCells = 2, iters = 3).collect()
    val kept = out.map(_.getAs[Long]("vec_id")).toSet
    assert(kept === Set(2L, 3L, 5L, 7L, 8L),
      s"kept $kept — expected quality keeper 2, tie keepers 3 and 5 " +
        "(the formerly-missed cross-cell pair now pruned), anchors 7, 8")
    // the output cell map stays top-1: survivors carry their own cell
    assert(out.map(_.getAs[Long]("quality")).sum === 9L + 5L * 4L)
    // single-probe replays the paper's honest recall boundary: the
    // cross-cell pair is never examined and BOTH members survive
    val sp = Similarity.semDedup(fx, "vec_id", "embedding", "quality",
      threshold = 0.95, nCells = 2, iters = 3, nProbes = 1).collect()
    assert(sp.map(_.getAs[Long]("vec_id")).toSet ===
      Set(2L, 3L, 5L, 6L, 7L, 8L))
    val cellOf = sp.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(cellOf(5L) !== cellOf(6L),
      "the planted pair must genuinely straddle the converged boundary")
    // a threshold no pair clears: the empty closure drops nothing
    val none = Similarity.semDedup(fx, "vec_id", "embedding", "quality",
      threshold = 0.9999, nCells = 2, iters = 3).count()
    assert(none === 8L, "no pairs above threshold means no prune")
  }

  test("diverseSample: per-cell cap respected, deterministic, ids " +
    "unique, and every non-empty cell is represented") {
    val sampled = Similarity.diverseSample(emb, "vec_id", "embedding",
      nCells = 4, perCell = 3, iters = 2).collect()
    val byCell = sampled.groupBy(_.getAs[Long]("cell"))
    assert(byCell.values.forall(_.length <= 3))
    assert(byCell.values.forall(rs =>
      rs.map(_.getAs[Int]("rank_in_cell")).sorted.toSeq ===
        (1 to rs.length).toSeq))
    val ids = sampled.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length === ids.length)
    // determinism: a second run returns the identical sample
    val again = Similarity.diverseSample(emb, "vec_id", "embedding",
      nCells = 4, perCell = 3, iters = 2).collect()
    assert(sampled.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }
}
