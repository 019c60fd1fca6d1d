package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Similarity
import Shared._

/** The gates whose plans call [[graft.ops.Similarity]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object SimilarityGates {
  val all: Seq[Gate] = Seq(
    Gate("q_cosine_topk", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5)
    })(
      embVecCte + """,
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(c.v, c.v))) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, c.v)
        |        / (sqrt(list_dot_product(q.v, q.v))
        |           * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id)
        |      AS rk
        |  FROM u c CROSS JOIN (SELECT * FROM u WHERE vec_id % 100 = 0) q
        |  WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
        |  round(cos, 6) AS cos_sim
        |FROM scored WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),
    Gate("q_ann_topk", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.annTopKWithin(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, "vec_id", "embedding", k = 5)
    })(
      annTopKOracle(queryRem = 0)),
    // graded ranking-quality scorecard over the cosine retrieval
    // baseline: NDCG@10 with the CORPUS-WIDE ideal (from the label
    // histogram, not the top-k list), MRR, precision/recall@10 —
    // relevance grades: 2 = same label, 1 = adjacent label, 0 otherwise
    // ranking-eval replay: same brute-force ranked list at k=10, graded by
    // label adjacency; DCG/IDCG folds in PINNED rank order (ROWS UNBOUNDED
    // both ways) so accumulation cannot differ from Spark; the ideal list
    // is stacked from the label histogram (corpus-wide ideal)
    Gate("q_ndcg", (s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d)
      val ranked = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10)
      val lab = emb.select(col("vec_id"), col("label"))
      val rel = ranked
        .join(lab.select(col("vec_id").as("cand_id"),
          col("label").as("clab")), "cand_id")
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("qlab")), "query_id")
        .withColumn("rel",
          when(col("qlab") === col("clab"), 2)
            .when(abs(col("qlab") - col("clab")) === 1, 1).otherwise(0))
      val hist = emb.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("label").as("qlab"))
      val gc2 = queries.join(broadcast(hist), col("qlab") === col("label"))
        .select(col("query_id"), lit(2).as("rel"),
          (col("cnt") - 1).as("avail"))
      // adjacent-label availability as an EQUI join: the histogram shifted
      // ±1 (labels-bounded), so no non-equi nested loop appears
      val adj = hist.select((col("label") + 1).as("qlab"), col("cnt"))
        .unionByName(hist.select((col("label") - 1).as("qlab"), col("cnt")))
        .groupBy("qlab").agg(sum("cnt").as("cnt"))
      val gc1 = queries.join(broadcast(adj), Seq("qlab"))
        .select(col("query_id"), lit(1).as("rel"), col("cnt").as("avail"))
      graft.ops.Models.rankingQuality(rel, "query_id", "rk", "rel",
        gc2.unionByName(gc1), k = 10)
    })(
      """WITH u AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlab, c.vec_id AS cand_id,
        |    c.label AS clab,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, c.v)
        |        / (sqrt(list_dot_product(q.v, q.v))
        |           * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id)
        |      AS rk
        |  FROM u c CROSS JOIN (SELECT * FROM u WHERE vec_id % 100 = 0) q
        |  WHERE c.vec_id <> q.vec_id),
        |topk AS (
        |  SELECT query_id, rk,
        |    CASE WHEN qlab = clab THEN 2
        |         WHEN abs(qlab - clab) = 1 THEN 1 ELSE 0 END AS rel
        |  FROM scored WHERE rk <= 10),
        |perq AS (
        |  SELECT query_id, count(*) AS n_eval, max(dcg) AS dcg,
        |    count(*) FILTER (WHERE rel >= 1) AS hits,
        |    min(CASE WHEN rel >= 1 THEN rk END) AS minrk
        |  FROM (SELECT query_id, rk, rel,
        |          sum((CAST((1 << rel) AS DOUBLE) - 1)
        |              / (ln(CAST(rk AS DOUBLE) + 1) / ln(2)))
        |            OVER (PARTITION BY query_id ORDER BY rk
        |                  ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND UNBOUNDED FOLLOWING) AS dcg
        |        FROM topk)
        |  GROUP BY query_id),
        |hist AS (SELECT label, count(*) AS cnt FROM u GROUP BY label),
        |qs AS (SELECT vec_id AS query_id, label AS qlab FROM u
        |       WHERE vec_id % 100 = 0),
        |avail AS (
        |  SELECT q.query_id, 2 AS rel, h.cnt - 1 AS avail
        |  FROM qs q JOIN hist h ON h.label = q.qlab
        |  UNION ALL
        |  SELECT q.query_id, 1 AS rel, CAST(sum(h.cnt) AS BIGINT) AS avail
        |  FROM qs q JOIN hist h ON abs(h.label - q.qlab) = 1
        |  GROUP BY q.query_id),
        |cumq AS (
        |  SELECT query_id, rel,
        |    CAST(sum(avail) OVER (PARTITION BY query_id ORDER BY rel DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS hi,
        |    CAST(sum(avail) OVER (PARTITION BY query_id ORDER BY rel DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - avail
        |      AS BIGINT) AS lo
        |  FROM avail WHERE rel >= 1 AND avail > 0),
        |ipos AS (
        |  SELECT query_id, rel,
        |    unnest(range(lo + 1, least(hi, 10) + 1)) AS p
        |  FROM cumq WHERE lo < 10),
        |ideal AS (
        |  SELECT query_id, max(idcg) AS idcg FROM (
        |    SELECT query_id,
        |      sum((CAST((1 << rel) AS DOUBLE) - 1)
        |          / (ln(CAST(p AS DOUBLE) + 1) / ln(2)))
        |        OVER (PARTITION BY query_id ORDER BY p
        |              ROWS BETWEEN UNBOUNDED PRECEDING
        |              AND UNBOUNDED FOLLOWING) AS idcg
        |    FROM ipos)
        |  GROUP BY query_id),
        |nrel AS (SELECT query_id, CAST(sum(avail) AS BIGINT) AS n_rel
        |         FROM avail WHERE rel >= 1 GROUP BY query_id)
        |SELECT p.query_id, p.n_eval, coalesce(n.n_rel, 0) AS n_rel,
        |  p.hits, round(p.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
        |  round(p.dcg / i.idcg, 6) AS ndcg,
        |  round(coalesce(1.0 / p.minrk, 0.0), 6) AS rr,
        |  round(p.hits / 10.0, 6) AS precision_at_k,
        |  round(CASE WHEN n.n_rel > 0
        |    THEN p.hits / CAST(n.n_rel AS DOUBLE) END, 6) AS recall_at_k
        |FROM perq p LEFT JOIN ideal i USING (query_id)
        |LEFT JOIN nrel n USING (query_id)
        |ORDER BY query_id""".stripMargin),
    // chunk→parent embedding aggregation: per-label element-wise mean +
    // L2-normalized mean, flat (key, dim) rows
    // mean pool: same per-dimension closed form; the L2 norm accumulates
    // ORDER BY dim on both sides
    Gate("q_emb_mean_pool", (s, d) => Similarity.meanPoolEmbeddings(
      Tables.embeddings(s, d), "label", "embedding"))(
      """WITH e AS (SELECT label AS key,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |x AS (SELECT key, CAST(r.d AS INTEGER) AS d, v[r.d + 1] AS x
        |      FROM e, UNNEST(range(64)) AS r(d)),
        |m AS (SELECT key, d, avg(x) AS m_raw FROM x GROUP BY key, d),
        |n AS (SELECT *,
        |    sqrt(sum(m_raw * m_raw) OVER (PARTITION BY key ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |      AS norm
        |  FROM m)
        |SELECT key, d, round(m_raw, 6) AS m,
        |  round(m_raw / norm, 6) AS m_unit
        |FROM n ORDER BY key, d""".stripMargin),
    // the two-frame ANN form (distinct query frame, both sides bucketed)
    // two-frame ANN: identical banding, query side its own frame
    Gate("q_ann_topk_pair", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.annTopK(emb, emb.filter(col("vec_id") % 100 === 50),
        "vec_id", "embedding", k = 5)
    })(
      annTopKOracle(queryRem = 50)),
    // scalar int8 quantization of the embedding corpus: per-dim [min,max]
    // grid, integer code checksums + reconstruction error per vector
    // int8 quantization: per-dim edges, code grid, reconstruction error —
    // codes integer-exact, error folds identical-operand
    Gate("q_emb_quantize", (s, d) => Similarity.quantizeEmbeddings(
      Tables.embeddings(s, d), "vec_id", "embedding"))(
      embVecCte + """,
        |mm AS (SELECT d.d AS d, min(u.v[d.d + 1]) AS mn,
        |         max(u.v[d.d + 1]) AS mx
        |       FROM u CROSS JOIN UNNEST(range(64)) AS d(d) GROUP BY d.d),
        |q AS (SELECT u.vec_id, m.d,
        |        CASE WHEN m.mx = m.mn THEN 0
        |             ELSE CAST(round((u.v[m.d + 1] - m.mn) * 255
        |                             / (m.mx - m.mn)) AS INTEGER) END AS c,
        |        u.v[m.d + 1] AS x, m.mn, m.mx
        |      FROM u CROSS JOIN mm m),
        |e AS (SELECT vec_id, c,
        |        x - (CASE WHEN mx = mn THEN mn
        |             ELSE mn + c * (mx - mn) / 255 END) AS err
        |      FROM q)
        |SELECT vec_id, CAST(sum(c) AS BIGINT) AS code_sum,
        |  round(sum(err * err) / 64, 6) AS mse,
        |  round(max(abs(err)), 6) AS max_abs_err
        |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    // Matryoshka-style truncation ablation: energy retained at k dims
    // truncation energy: per-vector sequential norm folds (identical
    // operands both engines), |dims|-bounded aggregate
    Gate("q_emb_truncate", (s, d) => Similarity.truncationEnergy(
      Tables.embeddings(s, d), "vec_id", "embedding",
      dims = Seq(8, 16, 32, 64)))(
      embVecCte + """,
        |en AS (SELECT k.k,
        |         list_dot_product(u.v[1:k.k], u.v[1:k.k])
        |           / list_dot_product(u.v, u.v) AS energy
        |       FROM u CROSS JOIN UNNEST([8, 16, 32, 64]) AS k(k))
        |SELECT CAST(k AS INTEGER) AS k,
        |  round(avg(energy), 6) AS avg_energy,
        |  round(min(energy), 6) AS min_energy,
        |  CAST(sum(CASE WHEN energy >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above_90
        |FROM en GROUP BY k ORDER BY k""".stripMargin),
    // grid=1024 trains the Lloyd loop on the dyadic 2^-10 lattice, which
    // makes centroids — and therefore the whole probe/verify output —
    // bit-deterministic cross-engine; the oracle replays all 3 Lloyd
    // rounds (this was the last float-order no_oracle gate). The
    // SimilaritySpec exactness gate (nprobe = nCells ⇒ equals brute
    // force) and the nprobe = 2 recall floor still hold.
    Gate("q_ivf_topk", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nCells = 16, nprobe = 4,
        grid = Some(1024))
    })(
      ivfTopKOracle(nCells = 16, nprobe = 4, iters = 3, k = 5)),
    // per-cluster corpus map: k-means cells (dyadic Lloyd — the
    // q_ivf_topk trainer) + size/share/cohesion per cell; the "what is
    // IN this corpus" profile a curation run starts from
    // cluster-profile replay: the same Lloyd chain + assignment; cosines
    // floored to the 2^-20 lattice before averaging so the per-cell mean
    // is an exact-sum quotient in any accumulation order
    Gate("q_cluster_profile", (s, d) => Similarity.clusterProfile(
      Tables.embeddings(s, d), "vec_id", "embedding", nCells = 16,
      iters = 3))(
      (clusterAssignCtes(nCells = 16, iters = 3) +
      """,
        |q AS (SELECT cell, floor(cos * 1048576) / 1048576 AS cq
        |      FROM asg),
        |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n, avg(cq) AS m,
        |        min(cq) AS mn FROM q GROUP BY cell),
        |t AS (SELECT g.*, CAST(sum(n) OVER (ORDER BY cell ROWS BETWEEN
        |        UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)
        |        AS tot
        |      FROM g)
        |SELECT CAST(cell AS BIGINT) AS cell, n,
        |  round(n / CAST(tot AS DOUBLE), 6) AS share,
        |  round(m, 6) AS mean_cos, round(mn, 6) AS min_cos
        |FROM t ORDER BY cell""".stripMargin)),
    // encoder-health read: per-label centroid cosine + norm ratio vs
    // the GLOBAL centroid — off-axis or norm-collapsed groups surface
    // before corpus-mix weights trust them
    // centroid-drift replay: same round-6 per-dim means, global
    // centroid from the same exploded pass, cos + norm-ratio folds.
    // Dims come from range(len(v)) — per-row lateral, NOT a hardcoded
    // 64 — so a fixture-width change desynchronizes loudly, matching
    // the Scala side's posexplode-derived dimensionality.
    Gate("q_centroid_drift", (s, d) => Similarity.centroidDrift(
      Tables.embeddings(s, d), "label", "embedding"))(
      """WITH u AS (SELECT label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |e AS (SELECT label, d.d AS d, avg(v[d.d + 1]) AS m
        |      FROM u CROSS JOIN UNNEST(range(len(v))) AS d(d)
        |      GROUP BY 1, 2),
        |c AS (SELECT label,
        |        list_transform(list(m ORDER BY d),
        |                       y -> round(y, 6)) AS cvec
        |      FROM e GROUP BY label),
        |ge AS (SELECT d.d AS d, avg(v[d.d + 1]) AS m
        |       FROM u CROSS JOIN UNNEST(range(len(v))) AS d(d)
        |       GROUP BY 1),
        |g AS (SELECT list_transform(list(m ORDER BY d),
        |               y -> round(y, 6)) AS gl
        |      FROM ge),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |      FROM embeddings GROUP BY 1)
        |SELECT c.label, n.n,
        |  round(list_dot_product(c.cvec, g.gl)
        |    / (sqrt(list_dot_product(c.cvec, c.cvec))
        |       * sqrt(list_dot_product(g.gl, g.gl))), 6) + 0.0
        |    AS cos_to_global,
        |  round(sqrt(list_dot_product(c.cvec, c.cvec))
        |    / sqrt(list_dot_product(g.gl, g.gl)), 6) AS norm_ratio
        |FROM c JOIN n ON n.label = c.label CROSS JOIN g
        |ORDER BY c.label""".stripMargin),
    // cluster SEPARATION check: per-vector simplified silhouette
    // (own-centroid cosine minus best-other cosine, dyadic lattice)
    // aggregated per cell — is the clustering real before
    // diverseSample/corpus-mix decisions trust the cells?
    // silhouette replay: the rank<=2 assignment, dyadic-floored a/b,
    // per-cell means of the exact per-vector a-b
    Gate("q_silhouette", (s, d) => Similarity.silhouette(
      Tables.embeddings(s, d), "vec_id", "embedding", nCells = 16,
      iters = 3))(
      (clusterAssignCtes(nCells = 16, iters = 3,
      withSecond = true) +
      """,
        |q2 AS (SELECT vec_id, cell, rk,
        |         floor(cos * 1048576) / 1048576 AS cq
        |       FROM asg),
        |pv AS (SELECT vec_id,
        |         max(CASE WHEN rk = 1 THEN cell END) AS cell,
        |         max(CASE WHEN rk = 1 THEN cq END) AS a,
        |         max(CASE WHEN rk = 2 THEN cq END) AS b
        |       FROM q2 GROUP BY vec_id),
        |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
        |        avg(a) AS ma, avg(b) AS mb,
        |        avg(a - b) AS ms, min(a - b) AS mns
        |      FROM pv GROUP BY cell)
        |SELECT CAST(cell AS BIGINT) AS cell, n,
        |  round(ma, 6) + 0.0 AS mean_cos_own,
        |  round(mb, 6) + 0.0 AS mean_cos_other,
        |  round(ms, 6) + 0.0 AS silhouette,
        |  round(mns, 6) + 0.0 AS min_silhouette
        |FROM g ORDER BY cell""".stripMargin)),
    // SemDeDup within-cell semantic prune: the synthetic embeddings
    // carry no natural near-dups (max pair cos ~0.5), so the gate
    // PLANTS deterministic paraphrase copies (the q_pii_report
    // discipline): every 25th vector gets a near-copy (id + 100000,
    // per-dim alternating ±2^-8 jitter); quality = the aligned doc's
    // n_chars, with the copy docked 1 (original wins) except every
    // 50th where the copy gains 7 (quality overrides min-id — both
    // keeper paths exercised). Expect: each planted pair pruned to
    // its higher-quality member, all unplanted vectors kept. The pair
    // pass runs the default top-2 multi-probe, so a planted pair
    // straddling a converged cell boundary is still examined.
    Gate("q_semdedup", (s, d) => Similarity.semDedup(
      plantedCorpus(s, d), "vec_id", "embedding", "quality",
      threshold = 0.95, nCells = 16, iters = 2))(
      semDedupOracle(nCells = 16, iters = 2,
      threshold = 0.95)),
    // occupancy-stable semDedup: the cell count DERIVED from the corpus
    // count (max(4, 2^ceil(log2(ceil(n/64))))) so per-cell occupancy —
    // and the multi-probe pair space — stays flat as data grows; same
    // planted-paraphrase corpus and keeper rules as q_semdedup, and the
    // oracle re-derives the cell count from DuckDB's own count(*)
    // semdedup replay: augmented-corpus Lloyd chain + within-cell pair
    // closure + quality keeper (full composition in SQL)
    // auto-celled variant: same Lloyd/probe/closure/keeper replay, the
    // c0 seed row-filtered by the count-derived nc instead of LIMIT
    Gate("q_semdedup_auto", (s, d) => Similarity.semDedupAuto(
      plantedCorpus(s, d), "vec_id", "embedding", "quality",
      threshold = 0.95, minCells = 4, targetPerCell = 64, iters = 2))(
      semDedupOracle(nCells = 0, iters = 2,
      threshold = 0.95, auto = Some((4, 64)))),
    // cluster-balanced diverse subset: perCell md5-ordered picks from
    // EVERY cell — the anti-mode-collapse sampler for eval/annotation
    // sets over a long-tailed corpus
    // diverse-sample replay: same assignment, md5-ordered per-cell rank
    Gate("q_diverse_sample", (s, d) => Similarity.diverseSample(
      Tables.embeddings(s, d), "vec_id", "embedding", nCells = 16,
      perCell = 5, iters = 3))(
      (clusterAssignCtes(nCells = 16, iters = 3) +
      """,
        |rk AS (SELECT cell, vec_id,
        |         row_number() OVER (PARTITION BY cell
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |           AS rank_in_cell
        |       FROM asg)
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(rank_in_cell AS INTEGER) AS rank_in_cell, vec_id
        |FROM rk WHERE rank_in_cell <= 5
        |ORDER BY cell, rank_in_cell""".stripMargin)),
    // IVF-PQ: inverted-file candidate pruning + product-quantized ADC
    // scoring (4 subspaces × 16 codes, dyadic-exact squared-L2 — the
    // FAISS-style compressed-index scale path)
    Gate("q_pq_topk", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nCells = 16, nprobe = 4,
        ivfIters = 2, m = 4, nCodes = 16, pqIters = 2, grid = 1024,
        refine = 4)
    })(
      pqTopKOracle(nCells = 16, nprobe = 4, ivfIters = 2,
      m = 4, nCodes = 16, pqIters = 2, k = 5, refine = 4)),
    // k-NN label-noise screen: sampled labeled points, 10 exact-cosine
    // neighbors vote; majority != own flags a candidate mislabel —
    // the confident-learning-lite review queue
    // label-noise replay: same exact-cosine knn, same vote aggs, same
    // (count DESC, label ASC) majority order
    Gate("q_label_noise", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.labelNoiseScreen(Tables.embeddings(s, d),
        col("vec_id") % 25 === 0, "vec_id", "embedding", "label",
        k = 10)
    })(
      """WITH u AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |knn AS (SELECT query_id, cand_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.v, c.v)
        |          / (sqrt(list_dot_product(q.v, q.v))
        |             * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id)
        |        AS rk
        |    FROM u c CROSS JOIN (SELECT * FROM u WHERE vec_id % 25 = 0) q
        |    WHERE c.vec_id <> q.vec_id) WHERE rk <= 10),
        |j AS (SELECT k.query_id, o.label, n.label AS nl
        |      FROM knn k
        |      JOIN u n ON n.vec_id = k.cand_id
        |      JOIN u o ON o.vec_id = k.query_id),
        |agg AS (SELECT query_id, label,
        |          CAST(count(*) AS BIGINT) AS n_neighbors,
        |          CAST(sum(CASE WHEN nl <> label THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_disagree
        |        FROM j GROUP BY 1, 2),
        |mj AS (SELECT query_id, nl AS majority_label FROM (
        |    SELECT query_id, nl, count(*) AS c,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY count(*) DESC, nl) AS r
        |    FROM j GROUP BY query_id, nl) WHERE r = 1)
        |SELECT a.query_id AS vec_id, a.label, a.n_neighbors,
        |  a.n_disagree,
        |  round(CAST(a.n_disagree AS DOUBLE) / a.n_neighbors, 6)
        |    AS disagree_rate,
        |  mj.majority_label,
        |  mj.majority_label <> a.label AS flagged
        |FROM agg a JOIN mj ON mj.query_id = a.query_id
        |ORDER BY vec_id""".stripMargin),
    // Johnson-Lindenstrauss distortion report: ±1 md5 projection to 16
    // dims, pairwise distance ratios on a bounded sampled pair set —
    // "can we serve these embeddings at k dims?"
    // JL replay: same ±1 md5 signs, same sequential dots, pinned-order
    // Σ_r fold, ratios rounded before the tiny final aggregate
    Gate("q_jl_project", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.jlDistortion(Tables.embeddings(s, d),
        col("vec_id") % 50 === 0, col("vec_id") % 50 === 7,
        "vec_id", "embedding", kDims = 16)
    })(
      embVecCte + """,
        |pl AS (SELECT r.r AS r,
        |         list_transform(range(64), d ->
        |           CASE WHEN (CAST('0x' || substr(md5('plane_99_' || r.r
        |              || '_' || d), 1, 15) AS BIGINT)
        |              % 2000001 - 1000000) / 1000000.0 >= 0
        |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
        |           AS w
        |       FROM UNNEST(range(16)) AS r(r)),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        list_transform(range(64), i -> a.v[i+1] - b.v[i+1])
        |          AS diff
        |      FROM (SELECT * FROM u WHERE vec_id % 50 = 0) a
        |      CROSS JOIN (SELECT * FROM u WHERE vec_id % 50 = 7) b
        |      WHERE a.vec_id <> b.vec_id),
        |d2 AS (SELECT *, list_dot_product(diff, diff) AS d2 FROM p
        |       WHERE list_dot_product(diff, diff) > 0),
        |pr AS (SELECT d2.id_a, d2.id_b, d2.d2, pl.r,
        |         list_dot_product(d2.diff, pl.w) AS dr
        |       FROM d2 CROSS JOIN pl),
        |sw AS (SELECT id_a, id_b, d2, r,
        |         sum(dr * dr) OVER (PARTITION BY id_a, id_b ORDER BY r
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |           FOLLOWING) / 16 AS p2
        |       FROM pr),
        |rt AS (SELECT id_a, id_b, round(sqrt(p2 / d2), 6) AS ratio
        |       FROM sw WHERE r = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(16 AS INTEGER) AS k_dims,
        |  min(ratio) AS min_ratio, round(avg(ratio), 6) AS avg_ratio,
        |  max(ratio) AS max_ratio,
        |  round(avg(ratio * ratio), 6) AS avg_sq_ratio
        |FROM rt""".stripMargin),
    // LSH recall curve: one bucketing at 8 tables, each config t is
    // the prefix filter "min matching table < t" — recall monotone in
    // tables by construction; completes the ANN quality story for the
    // hyperplane family (q_ann_quality covers IVF-PQ)
    // LSH curve replay: same md5 planes/buckets at 8 tables, pair ->
    // min matching table, config = prefix filter, exact re-rank
    Gate("q_lsh_quality", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.lshQualitySweep(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, "vec_id", "embedding", k = 5,
        tablesGrid = Seq(2, 4, 8), planes = 4)
    })(
      exactAndBucketCtes + """,
        |qb AS (SELECT * FROM bkt WHERE vec_id % 100 = 0),
        |pairs AS (SELECT qb.vec_id AS query_id, b.vec_id AS cand_id,
        |            min(b.tbl) AS mt
        |          FROM qb JOIN bkt b
        |            ON b.tbl = qb.tbl AND b.bucket = qb.bucket
        |           AND b.vec_id <> qb.vec_id
        |          GROUP BY 1, 2),
        |scored AS (SELECT p.query_id, p.cand_id, p.mt,
        |    list_dot_product(uq.v, uc.v)
        |      / (sqrt(list_dot_product(uq.v, uq.v))
        |         * sqrt(list_dot_product(uc.v, uc.v))) AS cos
        |  FROM pairs p
        |  JOIN u uq ON uq.vec_id = p.query_id
        |  JOIN u uc ON uc.vec_id = p.cand_id),
        |topk AS (SELECT query_id, cand_id, nt FROM (
        |    SELECT s.query_id, s.cand_id, nt.nt AS nt,
        |      row_number() OVER (PARTITION BY s.query_id, nt.nt
        |        ORDER BY s.cos DESC, s.cand_id) AS rk
        |    FROM scored s CROSS JOIN UNNEST([2, 4, 8]) AS nt(nt)
        |    WHERE s.mt < nt.nt) WHERE rk <= 5),
        |nn AS (SELECT count(*) AS n_exact,
        |         count(DISTINCT query_id) AS n_queries FROM exact),
        |rep AS (SELECT t.nt, count(*) AS n_returned,
        |          CAST(sum(CASE WHEN e.query_id IS NOT NULL
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |        FROM topk t LEFT JOIN exact e
        |          ON e.query_id = t.query_id AND e.cand_id = t.cand_id
        |        GROUP BY 1)
        |SELECT CAST(nt AS INTEGER) AS n_tables, CAST(5 AS INTEGER) AS k,
        |  n_queries, n_exact, n_returned, n_hits,
        |  round(CAST(n_hits AS DOUBLE) / n_exact, 4) AS recall
        |FROM rep CROSS JOIN nn
        |ORDER BY n_tables""".stripMargin),
    // recall-vs-cost curve over ONE deterministic IVF-PQ index: the
    // production ANN tuning table (which (nprobe, refine) clears 0.9?)
    // — index trains once, ADC scores once, configs are rank filters
    Gate("q_ann_quality", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.annQualitySweep(emb, col("vec_id") % 100 === 0,
        "vec_id", "embedding", k = 5, nCells = 16,
        nprobes = Seq(4, 8, 16), refines = Seq(4, 8, 16),
        ivfIters = 2, m = 16, nCodes = 64, pqIters = 2, grid = 1024)
    })(
      annQualityOracle(nCells = 16,
      nprobes = Seq(4, 8, 16), refines = Seq(4, 8, 16), ivfIters = 2,
      m = 16, nCodes = 64, pqIters = 2, k = 5)),
    // label-centroid cosine matrix: per-label mean embeddings (rounded
    // per dim) × labels²-bounded pairwise cosine — class-overlap screen
    // per-label centroid (per-dim mean rounded to 6) then pairwise
    // cosine over the labels-bounded centroid frame
    Gate("q_centroid_sim", (s, d) => Similarity.centroidSimilarity(
      Tables.embeddings(s, d), "label", "embedding"))(
      """WITH u AS (SELECT label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |e AS (SELECT label, d.d AS d, avg(v[d.d + 1]) AS m
        |      FROM u CROSS JOIN UNNEST(range(64)) AS d(d)
        |      GROUP BY 1, 2),
        |c AS (SELECT label,
        |        list_transform(list(m ORDER BY d),
        |                       y -> round(y, 6)) AS cvec
        |      FROM e GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_dot_product(a.cvec, b.cvec)
        |    / (sqrt(list_dot_product(a.cvec, a.cvec))
        |       * sqrt(list_dot_product(b.cvec, b.cvec))), 6) AS cos_sim
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin),
    // top principal embedding direction via 3 fixed power-iteration
    // rounds (O(dims) state, never a dims^2 covariance)
    // power iteration: 3 unrolled (dot -> project -> normalize) rounds;
    // v0 = e0; per-round rounding at 9 mirrors the Spark plan
    Gate("q_top_pc", (s, d) => graft.ops.Similarity.topPrincipalComponent(
      Tables.embeddings(s, d), "vec_id", "embedding", iterations = 3))(
      """WITH x AS (SELECT vec_id AS id, CAST(u.d AS INTEGER) AS dim,
        |             CAST(embedding[u.d + 1] AS DOUBLE) AS x
        |           FROM embeddings CROSS JOIN UNNEST(range(64)) AS u(d)),
        |v0 AS (SELECT DISTINCT dim,
        |         CASE WHEN dim = 0 THEN CAST(1.0 AS DOUBLE)
        |              ELSE CAST(0.0 AS DOUBLE) END AS val
        |       FROM x),
        |d1 AS (SELECT id, sum(x.x * v0.val) AS dot
        |       FROM x JOIN v0 USING (dim) GROUP BY 1),
        |p1 AS (SELECT dim, sum(x.x * d1.dot) AS s
        |       FROM x JOIN d1 USING (id) GROUP BY 1),
        |n1 AS (SELECT sqrt(sum(s * s)) AS nm FROM p1),
        |v1 AS (SELECT dim, round(s / nm, 9) AS val
        |       FROM p1 CROSS JOIN n1),
        |d2 AS (SELECT id, sum(x.x * v1.val) AS dot
        |       FROM x JOIN v1 USING (dim) GROUP BY 1),
        |p2 AS (SELECT dim, sum(x.x * d2.dot) AS s
        |       FROM x JOIN d2 USING (id) GROUP BY 1),
        |n2 AS (SELECT sqrt(sum(s * s)) AS nm FROM p2),
        |v2 AS (SELECT dim, round(s / nm, 9) AS val
        |       FROM p2 CROSS JOIN n2),
        |d3 AS (SELECT id, sum(x.x * v2.val) AS dot
        |       FROM x JOIN v2 USING (dim) GROUP BY 1),
        |p3 AS (SELECT dim, sum(x.x * d3.dot) AS s
        |       FROM x JOIN d3 USING (id) GROUP BY 1),
        |n3 AS (SELECT sqrt(sum(s * s)) AS nm FROM p3),
        |v3 AS (SELECT dim, round(s / nm, 9) AS val
        |       FROM p3 CROSS JOIN n3)
        |SELECT dim, round(val, 6) AS component FROM v3
        |ORDER BY dim""".stripMargin),
    // hash-checked: the LSH index is md5-derived and fully deterministic,
    // so recall@k is a deterministic function of two deterministic result
    // sets — the oracle recomputes both (the q_cosine_topk and q_ann_topk
    // CTEs verbatim) and joins them; SimilaritySpec still asserts the floor
    Gate("q_ann_recall", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Similarity.annRecall(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, "vec_id", "embedding", k = 5)
    })(
      exactAndBucketCtes + ",\n" + lshScoredCtes(queryRem = 0) + """,
        |ann AS (SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, cand_id) AS rk
        |    FROM scored) WHERE rk <= 5),
        |j AS (SELECT e.query_id,
        |        CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM exact e LEFT JOIN ann a
        |        ON a.query_id = e.query_id AND a.cand_id = e.cand_id)
        |SELECT CAST(5 AS INTEGER) AS k,
        |  count(DISTINCT query_id) AS n_queries,
        |  count(*) AS n_exact,
        |  CAST(sum(hit) AS BIGINT) AS n_hits,
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS recall
        |FROM j""".stripMargin),
  )

  /** [[graft.ops.Similarity.annTopK]] (8 tables × 4 planes, k = 5) for
    * the queries with vec_id % 100 = `queryRem`: [[lshScoredCtes]]
    * ranked by (cos DESC, cand_id).
    */
  private def annTopKOracle(queryRem: Int): String =
    embVecCte + ",\n" + hyperplaneCtes(8, "4") + ",\n" +
      lshScoredCtes(queryRem) + """,
      |rk AS (SELECT query_id, cand_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, cand_id) AS rk
      |  FROM scored)
      |SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
      |  round(cos, 6) AS cos_sim
      |FROM rk WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The candidate stage of [[graft.ops.Similarity.annTopK]] after
    * [[hyperplaneCtes]]: the query buckets `qb` (vec_id % 100 =
    * `queryRem`), the distinct bucket-sharing `cand(query_id, cand_id)`
    * pairs and their exact cosine, `scored(query_id, cand_id, cos)`.
    */
  private def lshScoredCtes(queryRem: Int): String =
    s"""qb AS (SELECT * FROM bkt WHERE vec_id % 100 = $queryRem),
       |cand AS (SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS cand_id
       |         FROM qb JOIN bkt b
       |           ON b.tbl = qb.tbl AND b.bucket = qb.bucket
       |          AND b.vec_id <> qb.vec_id),
       |scored AS (SELECT c.query_id, c.cand_id,
       |    list_dot_product(uq.v, uc.v)
       |      / (sqrt(list_dot_product(uq.v, uq.v))
       |         * sqrt(list_dot_product(uc.v, uc.v))) AS cos
       |  FROM cand c
       |  JOIN u uq ON uq.vec_id = c.query_id
       |  JOIN u uc ON uc.vec_id = c.cand_id)""".stripMargin

  /** The two sides of an ANN recall check: the brute-force
    * [[graft.ops.Similarity.cosineTopK]] (k = 5) of the vec_id % 100 = 0
    * queries, `exact(query_id, cand_id)`, then the [[hyperplaneCtes]]
    * buckets (8 tables × 4 planes) the approximate side probes.
    */
  private lazy val exactAndBucketCtes: String =
    embVecCte + """,
      |ex AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.v, c.v)
      |        / (sqrt(list_dot_product(q.v, q.v))
      |           * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id)
      |      AS rk
      |  FROM u c CROSS JOIN (SELECT * FROM u WHERE vec_id % 100 = 0) q
      |  WHERE c.vec_id <> q.vec_id),
      |exact AS (SELECT query_id, cand_id FROM ex WHERE rk <= 5),
      |""".stripMargin + hyperplaneCtes(8, "4")

  /** The q_semdedup corpus: the embeddings as doubles plus a planted
    * near-copy of every 25th vector (id + 100000, per-dim alternating
    * ±2^-8 jitter); quality = the aligned doc's n_chars, the copy docked
    * 1 except every 50th id, where it gains 7.
    */
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, d)
    val orig = emb.select(col("vec_id"),
      Similarity.doubles("embedding").as("embedding"))
    val planted = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") + when(i % 2 === 0, lit(0.00390625))
            .otherwise(lit(-0.00390625))).as("embedding"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
    orig.unionAll(planted)
      .join(docs, expr("vec_id % 100000") === col("doc_id"))
      .select(col("vec_id"), col("embedding"),
        (col("n_chars") +
          when(col("vec_id") >= 100000L && col("vec_id") % 50 === 0,
            lit(7))
            .when(col("vec_id") >= 100000L, lit(-1))
            .otherwise(lit(0))).cast("long").as("quality"))
  }

  /** The md5-ordered seed centroids of [[graft.ops.Similarity.ivfCentroids]]:
    * the first `nCells` vectors of `uq` by (md5(vec_id), vec_id), as
    * `c0(cell, cvec)`.
    */
  private def seedCellsCte(nCells: Int): String =
    s"""c0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |                            vec_id) - 1 AS cell,
       |         v AS cvec
       |  FROM uq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $nCells)""".stripMargin

  /** The dyadic Lloyd rounds of [[graft.ops.Similarity.ivfCentroids]]
    * over `uq(vec_id, v)` from the seed `c0`, unrolled: round i assigns
    * every vector to its (cos DESC, cell) best centroid of round i − 1
    * (`a$i`) and floors the per-dimension means to the 1/1024 lattice
    * (`c$i`). Training vectors are floored to the same lattice, so each
    * mean is a quotient of exact sums and the centroids agree with Spark
    * bit for bit. `dims` is the SQL length of the vectors.
    */
  private def lloydCtes(iters: Int, dims: String): String =
    (1 to iters).map { i =>
      val p = i - 1
      s"""a$i AS MATERIALIZED (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT u.vec_id, u.v, c.cell,
         |      row_number() OVER (PARTITION BY u.vec_id
         |        ORDER BY ${cos("u.v", "c.cvec")} DESC, c.cell) AS rk
         |    FROM uq u CROSS JOIN c$p c) WHERE rk = 1),
         |c$i AS MATERIALIZED (
         |  SELECT cell,
         |         list_transform(list(m ORDER BY d),
         |                        y -> floor(y * 1024) / 1024) AS cvec
         |  FROM (SELECT a.cell, d.d AS d, avg(a.v[d.d + 1]) AS m
         |        FROM a$i a CROSS JOIN UNNEST(range($dims)) AS d(d)
         |        GROUP BY a.cell, d.d)
         |  GROUP BY cell)""".stripMargin
    }.mkString(",\n")

  /** The IVF trainer over the embedding corpus: `uq` (vectors floored to
    * the 1/1024 lattice), `uo` (the vectors as doubles), the
    * [[seedCellsCte]] seed and `iters` [[lloydCtes]] rounds, ending at
    * the final centroids `c$iters`.
    */
  private def ivfTrainCtes(nCells: Int, iters: Int): String =
    s"""WITH uq AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |                   x -> floor(CAST(x AS DOUBLE) * 1024) / 1024) AS v
       |  FROM embeddings),
       |uo AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${seedCellsCte(nCells)},
       |${lloydCtes(iters, "64")}""".stripMargin

  /** [[ivfTrainCtes]] plus the inverted file of
    * [[graft.ops.Similarity.ivfTopK]]: every vector's (cos DESC, cell)
    * nearest final centroid, `inv(cand_id, cell)`.
    */
  private def ivfIndexCtes(nCells: Int, iters: Int): String =
    s"""${ivfTrainCtes(nCells, iters)},
       |inv AS MATERIALIZED (
       |  SELECT vec_id AS cand_id, cell FROM (
       |    SELECT u.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY ${cos("u.v", "c.cvec")} DESC, c.cell) AS rk
       |    FROM uo u CROSS JOIN c$iters c) WHERE rk = 1)""".stripMargin

  /** The probe stage of [[graft.ops.Similarity.ivfTopK]] after
    * [[ivfIndexCtes]]: each vec_id % 100 = 0 query's `nprobe` nearest
    * cells (`prb`) and the distinct inverted-file members of those cells,
    * `cand(query_id, cand_id)`.
    */
  private def probeCandCtes(iters: Int, nprobe: Int): String =
    s"""prb AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT u.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY ${cos("u.v", "c.cvec")} DESC, c.cell) AS rk
       |    FROM uo u CROSS JOIN c$iters c
       |    WHERE u.vec_id % 100 = 0) WHERE rk <= $nprobe),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, i.cand_id
       |  FROM prb p JOIN inv i
       |    ON i.cell = p.cell AND i.cand_id <> p.query_id)""".stripMargin

  /** The product quantizer of [[graft.ops.Similarity.pqCodebooks]] over
    * `uo`: unit-normalized vectors floored to the 1/1024 lattice (`nq`),
    * `m` subvectors each (`sq`), codebooks seeded from the md5-first
    * `nCodes` vectors (`p0`) and trained by `pqIters` unrolled
    * squared-L2 Lloyd rounds (`pa$i`/`p$i`), the corpus codes (`codes`)
    * and the vec_id % 100 = 0 queries' ADC lookup table
    * `lut(query_id, sm, code, qd2)`.
    */
  private def pqCodebookCtes(m: Int, nCodes: Int, pqIters: Int): String = {
    val sub = 64 / m
    val pqLloyd = (1 to pqIters).map { i =>
      val p = i - 1
      s"""pa$i AS MATERIALIZED (
         |  SELECT vec_id, sm, sv, code FROM (
         |    SELECT u.vec_id, u.sm, u.sv, c.code,
         |      row_number() OVER (PARTITION BY u.vec_id, u.sm
         |        ORDER BY ${d2("u.sv", "c.cvec")}, c.code) AS rk
         |    FROM sq u JOIN p$p c ON c.sm = u.sm) WHERE rk = 1),
         |p$i AS MATERIALIZED (
         |  SELECT sm, code,
         |         list_transform(list(mu ORDER BY d),
         |                        y -> floor(y * 1024) / 1024) AS cvec
         |  FROM (SELECT a.sm, a.code, d.d AS d, avg(a.sv[d.d + 1]) AS mu
         |        FROM pa$i a CROSS JOIN UNNEST(range($sub)) AS d(d)
         |        GROUP BY a.sm, a.code, d.d)
         |  GROUP BY sm, code)""".stripMargin
    }
    s"""nq AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> floor((CASE WHEN nm > 0
       |      THEN x / nm ELSE x END) * 1024) / 1024) AS v
       |  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm
       |        FROM uo)),
       |sq AS MATERIALIZED (
       |  SELECT vec_id, sm.sm AS sm,
       |    list_slice(v, sm.sm * $sub + 1, (sm.sm + 1) * $sub) AS sv
       |  FROM nq CROSS JOIN UNNEST(range($m)) AS sm(sm)),
       |sc AS MATERIALIZED (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |                       vec_id) - 1 AS code
       |  FROM uq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $nCodes),
       |p0 AS MATERIALIZED (
       |  SELECT sq.sm, sc.code, sq.sv AS cvec
       |  FROM sq JOIN sc ON sc.vec_id = sq.vec_id),
       |${pqLloyd.mkString(",\n")},
       |codes AS MATERIALIZED (
       |  SELECT vec_id AS cand_id, sm, code FROM (
       |    SELECT u.vec_id, u.sm, c.code,
       |      row_number() OVER (PARTITION BY u.vec_id, u.sm
       |        ORDER BY ${d2("u.sv", "c.cvec")}, c.code) AS rk
       |    FROM sq u JOIN p$pqIters c ON c.sm = u.sm) WHERE rk = 1),
       |lut AS MATERIALIZED (
       |  SELECT u.vec_id AS query_id, u.sm, c.code,
       |    ${d2("u.sv", "c.cvec")} AS qd2
       |  FROM sq u JOIN p$pqIters c ON c.sm = u.sm
       |  WHERE u.vec_id % 100 = 0)""".stripMargin
  }

  /** The q_ivf_topk oracle: the full IVF pipeline — [[ivfIndexCtes]],
    * nprobe cell probing, exact cosine verify — replayed in DuckDB. The
    * dyadic trainer gives the assignment argmax a total (cos DESC, cell)
    * order over bit-identical centroids, which is what turned this gate
    * from rows-only into hash-checked.
    */
  private def ivfTopKOracle(nCells: Int, nprobe: Int, iters: Int,
                            k: Int): String =
    s"""${ivfIndexCtes(nCells, iters)},
       |${probeCandCtes(iters, nprobe)},
       |scored AS (
       |  SELECT c.query_id, c.cand_id, ${cos("q.v", "t.v")} AS cos
       |  FROM cand c
       |  JOIN uo q ON q.vec_id = c.query_id
       |  JOIN uo t ON t.vec_id = c.cand_id),
       |rkd AS (
       |  SELECT query_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
       |  round(cos, 6) AS cos_sim
       |FROM rkd WHERE rk <= $k ORDER BY query_id, rk""".stripMargin

  /** Shared CTE prefix for the cluster gates (q_cluster_profile,
    * q_diverse_sample, q_silhouette): [[ivfTrainCtes]], then the
    * final-centroid assignment that KEEPS the winning cosine; with
    * `withSecond` the emitted `asg` keeps ranks 1-2 (+ rk column)
    * instead of the winner only — the silhouette's a/b pair.
    */
  private def clusterAssignCtes(nCells: Int, iters: Int,
                                withSecond: Boolean = false): String =
    s"""${ivfTrainCtes(nCells, iters)},
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cell, cos${if (withSecond) ", rk" else ""} FROM (
       |    SELECT u.vec_id, c.cell, ${cos("u.v", "c.cvec")} AS cos,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY ${cos("u.v", "c.cvec")} DESC, c.cell) AS rk
       |    FROM uo u CROSS JOIN c$iters c)
       |  WHERE rk <= ${if (withSecond) 2 else 1})""".stripMargin

  /** The q_semdedup oracle: the [[lloydCtes]] chain rebuilt
    * over the AUGMENTED corpus (originals + the gate's planted
    * paraphrase copies — same alternating ±2^-8 jitter, same quality
    * rule), then the TOP-2 MULTI-PROBE pair replay (rank <= 2 probe
    * file, cell equi-join, DISTINCT pairs, 2^-20 floored cosine
    * threshold; the output cell map stays rank 1), [[dupClosureCtes]],
    * and the quality-keeper row_number — the full
    * ivfCentroids → pairs → dupClusters → resolveDuplicatesByQuality
    * composition in SQL. Dims derive from len(v), never a hardcoded
    * width.
    */
  private def semDedupOracle(nCells: Int, iters: Int, threshold: Double,
                             auto: Option[(Int, Int)] = None): String = {
    // auto = Some((minCells, targetPerCell)): the cell count is DERIVED
    // from DuckDB's own count(*) — greatest(minCells,
    // 2^ceil(log2(ceil(n / target)))) — replaying Similarity.autoCells
    // (target is a power of two, so the double division is exact and
    // ceil/log2 agree with the integer bit form)
    val c0 = auto match {
      case Some((minCells, target)) =>
        s"""ncl AS MATERIALIZED (
           |  SELECT greatest($minCells, CASE WHEN v <= 1 THEN 1
           |      ELSE CAST(power(2, CAST(ceil(log2(CAST(v AS DOUBLE)))
           |        AS BIGINT)) AS BIGINT) END) AS nc
           |  FROM (SELECT CAST(ceil(count(*) / $target.0) AS BIGINT)
           |          AS v
           |        FROM base)),
           |c0 AS MATERIALIZED (
           |  SELECT cell, cvec FROM (
           |    SELECT row_number() OVER (
           |             ORDER BY md5(CAST(vec_id AS VARCHAR)),
           |                      vec_id) - 1 AS cell,
           |           v AS cvec
           |    FROM uq)
           |  WHERE cell < (SELECT nc FROM ncl))""".stripMargin
      case None => seedCellsCte(nCells)
    }
    s"""WITH RECURSIVE base AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)
       |      + CASE WHEN (i - 1) % 2 = 0
       |             THEN 0.00390625 ELSE -0.00390625 END)
       |  FROM embeddings WHERE vec_id % 25 = 0),
       |qual AS MATERIALIZED (
       |  SELECT b.vec_id,
       |    CAST(d.n_chars
       |      + CASE WHEN b.vec_id >= 100000 AND b.vec_id % 50 = 0 THEN 7
       |             WHEN b.vec_id >= 100000 THEN -1 ELSE 0 END
       |      AS BIGINT) AS quality
       |  FROM base b JOIN documents d ON d.doc_id = b.vec_id % 100000),
       |uq AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> floor(x * 1024) / 1024) AS v
       |  FROM base),
       |$c0,
       |${lloydCtes(iters, "len(a.v)")},
       |prb AS MATERIALIZED (
       |  SELECT vec_id, v, cell, rk FROM (
       |    SELECT b.vec_id, b.v, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${cos("b.v", "c.cvec")} DESC, c.cell) AS rk
       |    FROM base b CROSS JOIN c$iters c) WHERE rk <= 2),
       |inv AS MATERIALIZED (
       |  SELECT vec_id, v, cell FROM prb WHERE rk = 1),
       |dup AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS id_i, b.vec_id AS id_j
       |  FROM prb a JOIN prb b ON a.cell = b.cell
       |    AND a.vec_id < b.vec_id
       |  WHERE floor(${cos("a.v", "b.v")} * 1048576) / 1048576
       |    >= $threshold),
       |$dupClosureCtes,
       |rk AS (SELECT lab.id, row_number() OVER (
       |         PARTITION BY lab.cluster_id
       |         ORDER BY q.quality DESC, lab.id ASC) AS r
       |       FROM lab JOIN qual q ON q.vec_id = lab.id),
       |drops AS (SELECT id FROM rk WHERE r > 1)
       |SELECT i.vec_id, i.cell, q.quality
       |FROM inv i JOIN qual q ON q.vec_id = i.vec_id
       |WHERE i.vec_id NOT IN (SELECT id FROM drops)
       |ORDER BY i.vec_id""".stripMargin
  }

  /** The q_pq_topk oracle: the ivfTopKOracle candidate CTEs
    * ([[ivfIndexCtes]], [[probeCandCtes]]) composed with
    * [[pqCodebookCtes]], Σ_m lookup scoring, a k·refine ADC shortlist and
    * the exact cosine re-rank.
    */
  private def pqTopKOracle(nCells: Int, nprobe: Int, ivfIters: Int,
                           m: Int, nCodes: Int, pqIters: Int,
                           k: Int, refine: Int): String =
    s"""${ivfIndexCtes(nCells, ivfIters)},
       |${probeCandCtes(ivfIters, nprobe)},
       |${pqCodebookCtes(m, nCodes, pqIters)},
       |scored AS (
       |  SELECT cd.query_id, cd.cand_id, sum(l.qd2) AS approx
       |  FROM (SELECT c.query_id, c.cand_id, k.sm, k.code
       |        FROM cand c JOIN codes k ON k.cand_id = c.cand_id) cd
       |  JOIN lut l ON l.query_id = cd.query_id AND l.sm = cd.sm
       |    AND l.code = cd.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY approx, cand_id) AS ark
       |    FROM scored) WHERE ark <= ${k * refine}),
       |ref AS (
       |  SELECT s.query_id, s.cand_id, ${cos("q.v", "t.v")} AS cos
       |  FROM short s
       |  JOIN uo q ON q.vec_id = s.query_id
       |  JOIN uo t ON t.vec_id = s.cand_id),
       |rkd AS (
       |  SELECT query_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand_id) AS rk
       |  FROM ref)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
       |  round(cos, 6) AS cos_sim
       |FROM rkd WHERE rk <= $k ORDER BY query_id, rk""".stripMargin

  /** The q_ann_quality oracle: the pqTopKOracle training chains
    * ([[ivfIndexCtes]], [[pqCodebookCtes]]) computed ONCE, then
    * the sweep replayed as rank filters — probe ranks kept up to
    * max(nprobe) so "candidates at nprobe = p" is `cell_rank <= p`, one
    * ADC sum per candidate pair, per-(query, nprobe) ADC ranks, exact
    * cosine fetched once for the union of shortlists, per-config top-k
    * vs the brute-force exact baseline. Every rank is a total order and
    * every ADC sum is an exact dyadic, so the whole curve is
    * cross-engine deterministic.
    */
  private def annQualityOracle(nCells: Int, nprobes: Seq[Int],
                               refines: Seq[Int], ivfIters: Int, m: Int,
                               nCodes: Int, pqIters: Int,
                               k: Int): String = {
    val nps = nprobes.distinct.sorted
    val rfs = refines.distinct.sorted
    s"""${ivfIndexCtes(nCells, ivfIters)},
       |prb AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, rk AS cell_rank FROM (
       |    SELECT u.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY ${cos("u.v", "c.cvec")} DESC, c.cell) AS rk
       |    FROM uo u CROSS JOIN c$ivfIters c
       |    WHERE u.vec_id % 100 = 0) WHERE rk <= ${nps.max}),
       |pr AS MATERIALIZED (
       |  SELECT p.query_id, i.cand_id, p.cell_rank
       |  FROM prb p JOIN inv i
       |    ON i.cell = p.cell AND i.cand_id <> p.query_id),
       |${pqCodebookCtes(m, nCodes, pqIters)},
       |scored AS MATERIALIZED (
       |  SELECT cd.query_id, cd.cand_id,
       |    min(cd.cell_rank) AS cell_rank, sum(l.qd2) AS adc
       |  FROM (SELECT c.query_id, c.cand_id, c.cell_rank, x.sm, x.code
       |        FROM pr c JOIN codes x ON x.cand_id = c.cand_id) cd
       |  JOIN lut l ON l.query_id = cd.query_id AND l.sm = cd.sm
       |    AND l.code = cd.code
       |  GROUP BY 1, 2),
       |arked AS MATERIALIZED (
       |  SELECT query_id, cand_id, np, ark FROM (
       |    SELECT s.query_id, s.cand_id, np.np AS np,
       |      row_number() OVER (PARTITION BY s.query_id, np.np
       |        ORDER BY s.adc, s.cand_id) AS ark
       |    FROM scored s
       |    CROSS JOIN UNNEST([${nps.mkString(", ")}]) AS np(np)
       |    WHERE s.cell_rank <= np.np)
       |  WHERE ark <= ${k * rfs.max}),
       |csc AS MATERIALIZED (
       |  SELECT n.query_id, n.cand_id, ${cos("q.v", "t.v")} AS cos
       |  FROM (SELECT DISTINCT query_id, cand_id FROM arked) n
       |  JOIN uo q ON q.vec_id = n.query_id
       |  JOIN uo t ON t.vec_id = n.cand_id),
       |topk AS MATERIALIZED (
       |  SELECT query_id, cand_id, np, rf FROM (
       |    SELECT a.query_id, a.cand_id, a.np, rf.rf AS rf,
       |      row_number() OVER (PARTITION BY a.query_id, a.np, rf.rf
       |        ORDER BY c.cos DESC, a.cand_id) AS rk
       |    FROM arked a
       |    CROSS JOIN UNNEST([${rfs.mkString(", ")}]) AS rf(rf)
       |    JOIN csc c ON c.query_id = a.query_id
       |      AND c.cand_id = a.cand_id
       |    WHERE a.ark <= $k * rf.rf)
       |  WHERE rk <= $k),
       |exact AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.v", "c.v")} DESC, c.vec_id) AS rk
       |    FROM uo c CROSS JOIN (SELECT * FROM uo WHERE vec_id % 100 = 0) q
       |    WHERE c.vec_id <> q.vec_id) WHERE rk <= $k),
       |rep AS (
       |  SELECT t.np, t.rf, count(*) AS n_returned,
       |    CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits
       |  FROM topk t LEFT JOIN exact e
       |    ON e.query_id = t.query_id AND e.cand_id = t.cand_id
       |  GROUP BY 1, 2),
       |ex AS (SELECT count(*) AS n_exact,
       |         count(DISTINCT query_id) AS n_queries FROM exact)
       |SELECT CAST(np AS INTEGER) AS nprobe, CAST(rf AS INTEGER) AS refine,
       |  CAST($k AS INTEGER) AS k, n_queries, n_exact, n_returned, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / n_exact, 4) AS recall
       |FROM rep CROSS JOIN ex
       |ORDER BY nprobe, refine""".stripMargin
  }
}
