package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — BASELINE.json extension surface. Two paths:
  *
  *  - [[cosineTopK]]: exact brute force, query side broadcast. Correct
  *    baseline at any corpus size as long as the QUERY set is small (the
  *    corpus side streams; only queries are broadcast).
  *  - [[annTopK]]: random-hyperplane LSH with multi-table banding — the
  *    100 TB path. The corpus is bucketed once (shuffle on bucket id);
  *    each query probes its own buckets, so per-query cost is bucket-sized,
  *    not corpus-sized. Planes are md5-derived (deterministic, no RNG state
  *    to ship to executors).
  */
object Similarity {

  /** The array column `vecCol` as array<double>: every element widened on
    * its own (the embeddings are float), so the kernels and folds that
    * read it see one element type.
    */
  def doubles(vecCol: String): Column =
    transform(col(vecCol), x => x.cast("double"))

  /** Exact cosine top-k per query vector. `queries` must be small (it is
    * broadcast); corpus side never collects. Deterministic tiebreak on
    * (cos desc, id asc).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane,
    * dim): md5-derived value in [-1, 1). Computed once on the driver (it is
    * data-independent) and inlined as literals — executors see plain
    * constant-weighted sums, and any engine can reproduce the planes from
    * the md5 recipe.
    */
  private def planeComponent(table: Int, plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane_${table}_${plane}_$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2000001L - 1000000L) / 1000000.0
  }

  /** LSH bucket ids for each vector: one (id, table, bucket) row per hash
    * table. bucket = sign-bit pattern of `planes` hyperplane projections —
    * an unrolled literal-weighted sum per plane, fully codegen'd; one
    * shuffle to group by bucket.
    */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
                 tables: Int, planes: Int): DataFrame = {
    Par.requireKernel(emb.sparkSession, "dot_prod")
    val dims = Dedup.vecDims(emb, vecCol)
    val spark = emb.sparkSession
    import spark.implicits._
    // sign(v·plane) is invariant under positive scaling, so bucketing works
    // on the RAW vector. The planes are DATA (a 32-row broadcast table of
    // weight arrays), not code: a literal-unrolled projection per
    // table×plane built ~2k-node plans whose Catalyst passes dominated the
    // runtime; here the plan is a single scan × broadcast cross join ×
    // one shuffle. The projection itself is the native codegen'd
    // `dot_prod` kernel — the interpreted aggregate(zip_with(...)) fold it
    // replaced ran tables×planes×dims lambda dispatches per row (96 folds
    // per row at tables=16), which dominated the bucketing stage; the
    // kernel is one fused loop with the identical left-to-right summation
    // (bit-identity proven in DotProductSpec), so bucket ids are unchanged.
    // The size guard below keeps the FOLD's malformed-vector contract too:
    // a dimension-mismatched vector projects NULL (the fold null-padded it)
    // and lands in bucket 0, instead of silently bucketing the common
    // prefix — the same guard scoreLinear carries.
    val planeRows = for { t <- 0 until tables; p <- 0 until planes } yield
      (t, p, (0 until dims).map(d => planeComponent(t, p, d)).toArray)
    val planesDf = planeRows.toDF("table", "plane", "w")
    val v = doubles(vecCol)
    // the per-row projection loops are CPU-dense — spread an under-split
    // source to full width first (no-op on well-split inputs)
    Par.ensure(emb).select(col(idCol), v.as("__v"))
      .crossJoin(broadcast(planesDf))
      .withColumn("__proj",
        when(size(col("__v")) === size(col("w")),
          call_function("dot_prod", col("__v"), col("w"))))
      .groupBy(col(idCol), col("table"))
      .agg(sum(when(col("__proj") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), plane)")).otherwise(0L))
        .as("bucket"))
  }

  /** ANN top-k: candidates = corpus vectors sharing any (table, bucket)
    * with the query, then exact cosine + rank within candidates. Recall vs
    * [[cosineTopK]] is asserted in SimilaritySpec; raise `tables` for
    * higher recall, `planes` for smaller buckets.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, tables: Int = 8,
              planes: Int = 4): DataFrame =
    annTopKImpl(corpus, queries, None, idCol, vecCol, k, tables, planes)

  /** ANN where the query set is a PREDICATE over the corpus: buckets are
    * computed once and filtered for the query side — half the bucketing
    * work of the two-frame form.
    */
  def annTopKWithin(corpus: DataFrame, queryPred: org.apache.spark.sql.Column,
                    idCol: String, vecCol: String, k: Int, tables: Int = 8,
                    planes: Int = 4): DataFrame =
    annTopKImpl(corpus, corpus.filter(queryPred), Some(queryPred), idCol,
      vecCol, k, tables, planes)

  /** ANN recall@k measured AS DATA: the fraction of [[cosineTopK]]'s
    * exact top-k pairs that [[annTopKWithin]] also returns, over the
    * same query predicate. One row (k, n_queries, n_exact, n_hits,
    * recall) — a recall regression (bad hyperplane seed, broken
    * bucketing, dropped table) shows up in the gate HISTORY, not only in
    * the test suite's pass/fail floor. Cost: the exact baseline plus the
    * ANN path plus one pair semi-join — a monitoring query, priced for a
    * SAMPLED query set (the predicate), never the full corpus.
    */
  def annRecall(corpus: DataFrame, queryPred: org.apache.spark.sql.Column,
                idCol: String, vecCol: String, k: Int, tables: Int = 8,
                planes: Int = 4): DataFrame = {
    val exact = cosineTopK(corpus, corpus.filter(queryPred), idCol, vecCol, k)
      .select(col("query_id"), col("cand_id"))
    val ann = annTopKWithin(corpus, queryPred, idCol, vecCol, k,
      tables, planes).select(col("query_id"), col("cand_id"))
    exact
      .join(ann.withColumn("__ann", lit(1)), Seq("query_id", "cand_id"),
        "left_outer")
      .agg(
        lit(k).cast("int").as("k"),
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(when(col("__ann").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(col("k"), col("n_queries"), col("n_exact"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall"))
  }

  /** LSH recall-vs-cost curve — [[annQualitySweep]]'s discipline for
    * the hyperplane-LSH family: recall@k of [[annTopKWithin]] vs the
    * exact baseline as a function of the TABLE count, measured over ONE
    * bucketing. A prefix of hash tables is a valid sub-index, so the
    * corpus buckets once at max(tablesGrid) and a pair's candidacy at
    * `t` tables is simply `min matching table < t` — the sweep is rank
    * filters over one scored pair frame, never a re-bucketing per
    * config. (The PLANE count reshapes every bucket and cannot be
    * swept from one index — pin it per index, as here.)
    *
    * Output: one row per table count — (n_tables, k, n_queries,
    * n_exact, n_returned, n_hits, recall), ordered by n_tables; recall
    * is monotone in n_tables by construction (candidate sets nest).
    */
  def lshQualitySweep(corpus: DataFrame,
                      queryPred: org.apache.spark.sql.Column,
                      idCol: String, vecCol: String, k: Int,
                      tablesGrid: Seq[Int], planes: Int): DataFrame = {
    require(tablesGrid.nonEmpty && tablesGrid.forall(_ >= 1),
      "lshQualitySweep needs positive table counts")
    val tg = tablesGrid.distinct.sorted
    val spark = corpus.sparkSession
    import spark.implicits._
    val buckets = lshBuckets(corpus, idCol, vecCol, tg.max, planes)
    val cb = buckets.withColumnRenamed(idCol, "cand_id")
    val qb = buckets
      .join(corpus.filter(queryPred).select(col(idCol)), Seq(idCol),
        "left_semi")
      .withColumnRenamed(idCol, "query_id")
    val pairs = cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(min(col("table")).as("mt"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cos = pairs.join(c, "cand_id").join(broadcast(q), "query_id")
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .select("query_id", "cand_id", "mt", "cos")
      .localCheckpoint()
    val wCfg = Window.partitionBy("query_id", "n_tables")
      .orderBy(col("cos").desc, col("cand_id"))
    val topk = cos.crossJoin(broadcast(tg.toDF("n_tables")))
      .filter(col("mt") < col("n_tables"))
      .withColumn("rk", row_number().over(wCfg))
      .filter(col("rk") <= k)
    val exact = cosineTopK(corpus, corpus.filter(queryPred), idCol,
      vecCol, k).select(col("query_id"), col("cand_id"))
    val nEx = exact.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("query_id")).as("n_queries"))
    topk
      .join(exact.withColumn("__ex", lit(1)),
        Seq("query_id", "cand_id"), "left_outer")
      .groupBy(col("n_tables"))
      .agg(count(lit(1)).as("n_returned"),
        sum(when(col("__ex").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .crossJoin(broadcast(nEx))
      .select(col("n_tables"), lit(k).cast("int").as("k"),
        col("n_queries"), col("n_exact"), col("n_returned"),
        col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall"))
      .orderBy("n_tables")
  }

  /** Mean-pool member embeddings into one vector per key — the
    * chunk→document (or doc→cluster) embedding aggregation every
    * embedding pipeline runs before indexing — emitted FLAT as one
    * (key, dim, mean, unit-normalized mean) row per dimension: the flat
    * form keeps the oracle comparison scalar and the shuffle key small.
    * One posexplode + (key, dim) groupBy (map-side combined), then the
    * L2 norm per key via a key-partitioned window whose accumulation is
    * ORDER BY dim — pinned order, so the norm's float bits are
    * reproducible across engines. Rebuild the array form downstream with
    * `array_sort(collect_list(struct(d, m)))` when needed.
    */
  def meanPoolEmbeddings(chunks: DataFrame, keyCol: String,
                         vecCol: String): DataFrame = {
    val w = Window.partitionBy("key").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    chunks
      .select(col(keyCol).as("key"),
        posexplode(doubles(vecCol))
          .as(Seq("d", "x")))
      .groupBy("key", "d").agg(avg(col("x")).as("m_raw"))
      .withColumn("norm", sqrt(sum(col("m_raw") * col("m_raw")).over(w)))
      .select(col("key"), col("d"), round(col("m_raw"), 6).as("m"),
        round(col("m_raw") / col("norm"), 6).as("m_unit"))
      .orderBy("key", "d")
  }

  /** The `field` of the `__cands` entry the native `kernel` (nearest_cos
    * or nearest_l2) picks for vector column `vec`. A null vector falls
    * back to the first candidate (the smallest key); an empty candidate
    * array gives NULL.
    */
  private def nearestOrFirst(kernel: String, vec: String,
                             field: String): Column =
    coalesce(call_function(kernel, col(vec), col("__cands")),
      get(col("__cands"), lit(0)).getField(field))

  /** IVF coarse quantizer: k-means cells over the corpus, trained with a
    * few Lloyd iterations as plain DataFrame jobs. Seeds are the k
    * corpus vectors with the smallest md5(id) — deterministic, no RNG
    * state. Each iteration is one assign pass (broadcast centroids,
    * map-side argmax with a total (cos DESC, cell) order — ties cannot
    * flip the assignment) and one element-wise mean (posexplode → avg per
    * (cell, dim) — k×dims rows, trivially small); the k×dims centroid
    * table itself lives on the driver between iterations, exactly like
    * any broadcast dimension. Returns (cell, cvec).
    *
    * `grid = Some(g)` makes training FULLY deterministic cross-engine:
    * input vectors and each iteration's centroid means are floored onto
    * the dyadic 1/g grid (g a power of two), so every per-dimension sum
    * is exact in any accumulation order and the assignment argmax cannot
    * flip on a last-bit tie — the same exactness discipline as
    * `Models.boostedStumps`. Without it, float-order noise in the means
    * makes centroids engine-specific (the documented no-oracle surface).
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, iters: Int = 3,
                   grid: Option[Int] = None): DataFrame = {
    require(nCells >= 1, "ivfCentroids needs nCells >= 1")
    require(grid.forall(g => g > 0 && (g & (g - 1)) == 0),
      "ivfCentroids grid must be a power of two")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = grid match {
      case Some(g) => transform(col(vecCol),
        x => floor(x.cast("double") * g) / g)
      case None => doubles(vecCol)
    }
    val base = corpus.select(col(idCol).as("__id"), v.as("__v"))
    // deterministic seeds: smallest md5 of the id (uniform over the corpus,
    // no dependence on storage order). orderBy+limit plans as a parallel
    // TakeOrderedAndProject (per-partition top-k, merged on the driver) —
    // NOT a single-task global-sort WindowExec; the row_number below runs
    // over the nCells survivors only.
    val seeds = base
      .orderBy(md5(col("__id").cast("string")), col("__id"))
      .limit(nCells)
      .withColumn("__rk", row_number().over(
        Window.orderBy(md5(col("__id").cast("string")), col("__id"))))
      .select((col("__rk") - 1).as("cell"), col("__v").as("cvec"))
    // Par.iterate truncates the per-iteration lineage growth (the
    // centroid table is k rows); it never releases the lazy seed frame,
    // whose plan reaches the caller's corpus checkpoint
    Par.iterate("ivfCentroids", iters, seeds) { (cents, _) =>
      // argmax via the native nearest_cos kernel over the ONE-ROW
      // broadcast candidate array — bit-contracted to the
      // max(struct(cos, -cell)) spelling it retired (NearestVecSpec):
      // highest cosine wins, ties to the smallest cell, null-v rows
      // fall back to the smallest cell (the all-null struct-max
      // outcome). The assign step is now a pure per-row PROJECTION —
      // the old groupBy(__id) argmax shuffled the corpus (vectors
      // riding the exchange) once per Lloyd iteration (r17).
      val cands = broadcast(cents.agg(sort_array(collect_list(
        struct(col("cell").cast("long").as("cell"), col("cvec"))))
        .as("__cands")))
      val assigned = base.crossJoin(cands)
        .select(nearestOrFirst("nearest_cos", "__v", "cell").as("cell"),
          col("__v"))
      val mean = grid match {
        case Some(g) => floor(avg(col("x")) * g) / g
        case None => avg(col("x"))
      }
      assigned
        .select(col("cell"), posexplode(col("__v")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d")).agg(mean.as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          s => s.getField("m")).as("cvec"))
    }
  }

  /** IVF-ANN top-k: assign the corpus to its nearest cell once (the
    * inverted file — one broadcast-argmax pass, one shuffle), probe the
    * `nprobe` nearest cells per query, exact-cosine verify within the
    * probed cells only. With nprobe = nCells this degenerates to exact
    * brute force REGARDLESS of centroid quality — SimilaritySpec uses
    * that as an exact gate — and recall at nprobe << nCells is the usual
    * IVF tradeoff. All joins are equi-joins on the cell id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nprobe: Int = 4,
              iters: Int = 3, grid: Option[Int] = None): DataFrame = {
    val cents = broadcast(
      ivfCentroids(corpus, idCol, vecCol, nCells, iters, grid))
    val cand = ivfCandidates(cents, corpus, queries, idCol, vecCol,
      nprobe)
    exactCosineRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Nearest `n` cells per vector under the broadcast centroid table —
    * the shared probe/assignment primitive: n = 1 builds the inverted
    * file, n = nprobe builds a query's probe list.
    */
  private def nearestCells(cents: DataFrame, df: DataFrame,
                           idCol: String, vecCol: String, outId: String,
                           n: Int): DataFrame =
    if (n == 1) {
      // the inverted-file build: a pure per-row projection via the
      // native nearest_cos kernel (bit-contracted to the rank-1 window
      // below — NearestVecSpec), instead of a row_number window whose
      // id-keyed exchange shuffled the corpus per index build (r17)
      df.select(col(idCol).as(outId),
          doubles(vecCol).as("__v"))
        .crossJoin(cellArray(cents))
        .select(col(outId),
          nearestOrFirst("nearest_cos", "__v", "cell").as("cell"))
    } else {
      rankedCells(cents, df, idCol, vecCol, n)
        .select(col("__id").as(outId), col("cell"))
    }

  /** The centroid table as one broadcast row: `__cands`, the
    * (cell, cvec) structs sorted by cell.
    */
  private def cellArray(cents: DataFrame): DataFrame =
    broadcast(cents.agg(sort_array(collect_list(
      struct(col("cell"), col("cvec")))).as("__cands")))

  /** Each row of `df` (as `__id`) beside its `n` most cosine-similar
    * centroids, ranked `__rk` by (cosine DESC, cell).
    */
  private def rankedCells(cents: DataFrame, df: DataFrame, idCol: String,
                          vecCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy("__id")
      .orderBy(col("__cos").desc, col("cell"))
    df.select(col(idCol).as("__id"),
        doubles(vecCol).as("__v"))
      .crossJoin(cents)
      .withColumn("__cos", expr("cosine_sim(__v, cvec)"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
  }

  /** Candidate pairs: inverted file × broadcast probe list on the cell
    * id, self-pairs dropped.
    */
  private def candidatePairs(invFile: DataFrame,
                             probes: DataFrame): DataFrame =
    invFile.join(broadcast(probes), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id").distinct()

  /** IVF candidate pairs for a broadcast centroid table: inverted file
    * (nearest cell per corpus vector) joined against each query's
    * `nprobe` nearest cells, self-pairs dropped. Shared by [[ivfTopK]]
    * and [[pqTopK]] so the probe discipline lives in one place.
    */
  private def ivfCandidates(cents: DataFrame, corpus: DataFrame,
                            queries: DataFrame, idCol: String,
                            vecCol: String, nprobe: Int): DataFrame =
    candidatePairs(
      nearestCells(cents, corpus, idCol, vecCol, "cand_id", 1),
      nearestCells(cents, queries, idCol, vecCol, "query_id", nprobe))

  /** Exact-cosine top-k over a (query_id, cand_id) pair frame: fetch
    * both raw vectors, rank per query under the total (cos DESC,
    * cand_id) order — the shared verify/refine tail of [[ivfTopK]] and
    * [[pqTopK]].
    */
  private def exactCosineRerank(pairs: DataFrame, corpus: DataFrame,
                                queries: DataFrame, idCol: String,
                                vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    pairs.join(c, "cand_id").join(broadcast(q), "query_id")
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  private def annTopKImpl(corpus: DataFrame, queries: DataFrame,
                          queryPred: Option[org.apache.spark.sql.Column],
                          idCol: String, vecCol: String, k: Int,
                          tables: Int, planes: Int): DataFrame = {
    val corpusBuckets = lshBuckets(corpus, idCol, vecCol, tables, planes)
    val cb = corpusBuckets.withColumnRenamed(idCol, "cand_id")
    val qb = queryPred match {
      case Some(p) =>
        // resolve the predicate against the FULL corpus row (it may
        // reference any corpus column), then keep those ids' buckets
        corpusBuckets
          .join(corpus.filter(p).select(col(idCol)), Seq(idCol), "left_semi")
          .withColumnRenamed(idCol, "query_id")
      case None =>
        lshBuckets(queries, idCol, vecCol, tables, planes)
          .withColumnRenamed(idCol, "query_id")
    }
    val cand = cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id").distinct()
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    cand.join(c, "cand_id").join(broadcast(q), "query_id")
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  /** k-NN label-noise screen — the confident-learning-lite mislabel
    * miner every labeled-embedding corpus should run before training
    * (Northcutt-style intuition reduced to its query-engine core): for
    * each SAMPLED labeled point, its k exact-cosine neighbors vote; a
    * high disagreement rate, or a majority label different from the
    * point's own, flags a candidate mislabel for review. Per-query
    * output, not a verdict — the review queue is the product.
    *
    * Scale shape: the sampled query side rides [[cosineTopK]]
    * (broadcast queries, corpus streams); neighbor labels join on the
    * id; the vote is two queries×k-bounded groupBys with a total
    * (count DESC, label ASC) majority argmax. Deterministic: counts
    * exact, the rate one division, the argmax a struct-max.
    *
    * Output per sampled id: label, n_neighbors, n_disagree,
    * disagree_rate, majority_label, flagged (majority ≠ own).
    */
  def labelNoiseScreen(emb: DataFrame,
                       queryPred: org.apache.spark.sql.Column,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, "labelNoiseScreen needs k >= 1")
    val knn = cosineTopK(emb, emb.filter(queryPred), idCol, vecCol, k)
    val nbrLab = emb.select(col(idCol).as("cand_id"),
      col(labelCol).as("__nl"))
    val own = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(labelCol).as("label"))
    val j = knn.join(nbrLab, "cand_id").join(broadcast(own), "query_id")
    val agg = j.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") =!= col("label"), 1L).otherwise(0L))
          .as("n_disagree"))
    val maj = j.groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("__c"),
        (lit(-1) * col("__nl")).as("negl"))).as("__m"))
      .select(col("query_id"),
        (lit(-1) * col("__m.negl")).as("majority_label"))
    agg.join(maj, Seq("query_id"))
      .select(col("query_id").as(idCol), col("label"),
        col("n_neighbors"), col("n_disagree"),
        round(col("n_disagree").cast("double") / col("n_neighbors"), 6)
          .as("disagree_rate"),
        col("majority_label"),
        (col("majority_label") =!= col("label")).as("flagged"))
      .orderBy(idCol)
  }

  /** Johnson–Lindenstrauss random-projection distortion report — the
    * "can we serve these embeddings at k dims?" measurement
    * (Achlioptas-style ±1 projection: y = R·x/√k with R_rd = sign of
    * the md5-derived plane component — deterministic, no RNG state,
    * and the JL lemma bounds ‖ya−yb‖/‖xa−xb‖ near 1 w.h.p.): for a
    * bounded SAMPLED pair set, the per-pair distance ratio after
    * projecting to `kDims`, aggregated to min/avg/max and the mean
    * squared ratio (≈ 1 when the projection is unbiased — the
    * dimension-reduction sibling of [[truncationEnergy]], which keeps
    * PREFIX dims instead of mixing all of them).
    *
    * Determinism: ‖·‖² never materializes y — it is Σ_r dot(diff, w_r)²
    * / k, each dot the sequential native kernel (bit-identical to
    * DuckDB's list_dot_product), the Σ_r a PINNED-ORDER window fold
    * over the kDims-row plane frame (the [[meanPoolEmbeddings]] norm
    * discipline); per-pair ratios round at 6 before the tiny final
    * aggregate. Scale: pairs × kDims rows, planes broadcast — the
    * sample, never the corpus, pays the projection.
    */
  def jlDistortion(corpus: DataFrame, predA: org.apache.spark.sql.Column,
                   predB: org.apache.spark.sql.Column, idCol: String,
                   vecCol: String, kDims: Int): DataFrame = {
    require(kDims >= 1, "jlDistortion needs kDims >= 1")
    Par.requireKernel(corpus.sparkSession, "dot_prod")
    val dims = Dedup.vecDims(corpus, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    // ±1 signs of the md5 plane components (table id 99 keeps the
    // stream disjoint from lshBuckets' tables)
    val planeRows = (0 until kDims).map(r =>
      (r, (0 until dims).map(d =>
        if (planeComponent(99, r, d) >= 0) 1.0 else -1.0).toArray))
    val planes = planeRows.toDF("r", "w")
    val a = corpus.filter(predA).select(col(idCol).as("id_a"),
      doubles(vecCol).as("__va"))
    val b = corpus.filter(predB).select(col(idCol).as("id_b"),
      doubles(vecCol).as("__vb"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("__diff", zip_with(col("__va"), col("__vb"),
        (x, y) => x - y))
      .withColumn("__d2",
        call_function("dot_prod", col("__diff"), col("__diff")))
      .filter(col("__d2") > 0)
    val wPair = Window.partitionBy("id_a", "id_b").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ratios = pairs.crossJoin(broadcast(planes))
      .withColumn("__dr", call_function("dot_prod", col("__diff"),
        col("w")))
      .withColumn("__p2",
        sum(col("__dr") * col("__dr")).over(wPair) / kDims)
      .filter(col("r") === 0)
      .select(col("id_a"), col("id_b"),
        round(sqrt(col("__p2") / col("__d2")), 6).as("ratio"))
    ratios.agg(count(lit(1)).as("n_pairs"),
        lit(kDims).cast("int").as("k_dims"),
        min(col("ratio")).as("min_ratio"),
        round(avg(col("ratio")), 6).as("avg_ratio"),
        max(col("ratio")).as("max_ratio"),
        round(avg(col("ratio") * col("ratio")), 6).as("avg_sq_ratio"))
  }

  /** Top principal direction of the (uncentered) embedding matrix by
    * fixed-round power iteration: v ← normalize(Σᵢ xᵢ·(xᵢ·v)), v₀ = e₀ —
    * the dominant variance axis that drives PCA whitening, drift
    * monitoring ("did the main axis move?"), and 1-D embedding
    * visualization orderings. Deterministic: fixed start, fixed rounds,
    * per-round components rounded to 9 (final 6), so the DuckDB oracle
    * replays the identical sequence.
    *
    * Scale shape per round: the current direction is a DIMS-row frame;
    * dot products ride one posexplode + dim equi-join + vec groupBy (one
    * shuffle keyed by vec id), the re-projection one more posexplode +
    * vec equi-join + dim groupBy (dims-bounded output), and the L2 norm
    * is a 1-row scalar broadcast. Nothing holds a dims×dims matrix —
    * memory is O(dims) however many rows the corpus has (the covariance-
    * matrix spelling is O(dims²) state and a 4096-way explode per row at
    * 64 dims; this is the scale path). The rounds run in
    * [[Par.iterate]].
    */
  def topPrincipalComponent(embs: DataFrame, idCol: String, vecCol: String,
                            iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      "topPrincipalComponent needs 1 <= iterations <= 10 (fixed rounds)")
    val x = embs.select(col(idCol).as("__id"),
        posexplode(doubles(vecCol))
          .as(Seq("dim", "__x")))
      .localCheckpoint()
    val e0 = x.select(col("dim")).distinct()
      .select(col("dim"),
        when(col("dim") === 0, lit(1.0)).otherwise(lit(0.0)).as("val"))
      .localCheckpoint()
    Par.iterate("topPrincipalComponent", iterations, e0) { (v, _) =>
      val dots = x.join(v, "dim")
        .groupBy(col("__id"))
        .agg(sum(col("__x") * col("val")).as("__dot"))
      val proj = x.join(dots, "__id")
        .groupBy(col("dim"))
        .agg(sum(col("__x") * col("__dot")).as("__s"))
      val norm = proj.agg(sqrt(sum(col("__s") * col("__s"))).as("__n"))
      proj.crossJoin(broadcast(norm))
        .select(col("dim"), round(col("__s") / col("__n"), 9).as("val"))
    }.select(col("dim"), round(col("val"), 6).as("component"))
      .orderBy("dim")
  }

  /** Scalar int8 quantization of an embedding column — the vector-store
    * compression step (4× over float32): per-dimension [min, max] over
    * the corpus defines a 0..255 linear code grid, every vector encodes
    * to codes and the gate-grade accounting reports the per-vector code
    * checksum and reconstruction error (MSE + max abs).
    *
    * Scale shape: the min/max pass is a posexplode → dims-bounded
    * groupBy (the [[meanPoolEmbeddings]] discipline); the per-dim edges
    * collapse to ONE broadcast pair of arrays, and encoding is a pure
    * per-row projection — no second shuffle, no collect. Constant
    * dimensions (max = min) encode to 0 and reconstruct exactly. The
    * checksum is integer-exact cross-engine; the error stats are
    * identical-operand float folds.
    */
  /** Dimension-truncation energy report (the Matryoshka-style ablation:
    * how much of each vector survives keeping only the first k dims):
    * for every k in `dims`, the per-vector energy ratio
    * ‖v[0..k)‖²/‖v‖² is computed in one scan (ks explode per row, both
    * norms are sequential per-row folds — identical-operand across
    * engines) and aggregated to corpus stats: mean energy retained,
    * worst vector, and how many clear 90%. Pure projection + one
    * |dims|-bounded groupBy — no join, no collect; the decision input
    * for serving truncated embeddings at a fraction of the storage.
    */
  def truncationEnergy(emb: DataFrame, idCol: String, vecCol: String,
                       dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      "truncationEnergy needs at least one positive dim count")
    val ks = array(dims.map(lit): _*)
    emb
      .select(doubles(vecCol).as("__v"),
        explode(ks).as("k"))
      .withColumn("__energy", expr(
        """aggregate(slice(__v, 1, k), cast(0.0 as double),
          |  (a, x) -> a + x * x)
          |/ aggregate(__v, cast(0.0 as double), (a, x) -> a + x * x)"""
          .stripMargin))
      .groupBy(col("k"))
      .agg(round(avg(col("__energy")), 6).as("avg_energy"),
        round(min(col("__energy")), 6).as("min_energy"),
        sum(when(col("__energy") >= 0.9, 1L).otherwise(0L))
          .as("n_above_90"))
      .orderBy("k")
  }

  def quantizeEmbeddings(emb: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val mm = emb
      .select(posexplode(doubles(vecCol))
        .as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          s => s.getField("mn")).as("__mn"),
        transform(array_sort(collect_list(struct(col("d"), col("mx")))),
          s => s.getField("mx")).as("__mx"))
    emb.crossJoin(broadcast(mm))
      .withColumn("__v", doubles(vecCol))
      .withColumn("__c", expr(
        """transform(sequence(0, size(__v) - 1), i ->
          |  CASE WHEN __mx[i] = __mn[i] THEN 0
          |       ELSE CAST(round((__v[i] - __mn[i]) * 255
          |                       / (__mx[i] - __mn[i])) AS INT) END)"""
          .stripMargin))
      .withColumn("__e", expr(
        """transform(sequence(0, size(__v) - 1), i ->
          |  __v[i] - (CASE WHEN __mx[i] = __mn[i] THEN __mn[i]
          |            ELSE __mn[i] + __c[i] * (__mx[i] - __mn[i]) / 255
          |            END))""".stripMargin))
      .select(col(idCol),
        expr("aggregate(__c, cast(0 as bigint), (a, c) -> a + c)")
          .as("code_sum"),
        round(expr("aggregate(__e, cast(0.0 as double), " +
          "(a, e) -> a + e * e)") / size(col("__v")), 6).as("mse"),
        round(expr("aggregate(__e, cast(0.0 as double), " +
          "(a, e) -> greatest(a, abs(e)))"), 6).as("max_abs_err"))
      .orderBy(idCol)
  }

  /** Product-quantization codebooks: the vector is split into `m`
    * contiguous subspaces and each subspace gets its own `nCodes`-entry
    * codebook trained by the SAME dyadic-lattice Lloyd recursion as
    * [[ivfCentroids]] — all m subspaces train SIMULTANEOUSLY in one
    * (subspace, code)-keyed frame, so adding subspaces adds rows, not
    * stages.
    *
    * Cross-engine determinism (the [[ivfCentroids]] discipline, taken
    * further): inputs live on the 1/`grid` dyadic lattice, so squared-L2
    * distances are sums of EXACT dyadic rationals — exact in IEEE double
    * under ANY summation order — and assignment ties break by the total
    * (dist ASC, code ASC) struct order. Centroid means divide an exact
    * dyadic sum by the cell count (one IEEE division) and re-grid.
    * Nothing in the training is float-order-sensitive.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, nCodes: Int, iters: Int,
                  grid: Int = 1024): DataFrame = {
    require(m >= 1 && nCodes >= 1 && iters >= 0,
      "pqCodebooks needs m >= 1, nCodes >= 1, iters >= 0")
    require(grid > 0 && (grid & (grid - 1)) == 0,
      "pqCodebooks grid must be a power of two")
    Par.requireKernel(corpus.sparkSession, "l2_sq")
    val dims = Dedup.vecDims(corpus, vecCol)
    require(dims % m == 0,
      s"pqCodebooks needs dims % m == 0 (got $dims dims, m = $m): " +
        "slicing would silently drop the trailing dimensions")
    val sub = subvectors(corpus, idCol, vecCol, m, grid)
      .localCheckpoint()
    // per-subspace seeds: the same md5-least ids seed every subspace (the
    // id order is corpus-global, so one TakeOrdered pass serves all m)
    val seedIds = corpus
      .select(col(idCol).as("__id"))
      .orderBy(md5(col("__id").cast("string")), col("__id"))
      .limit(nCodes)
      .withColumn("code", row_number().over(
        Window.orderBy(md5(col("__id").cast("string")), col("__id"))) - 1)
    val seeds = sub.join(seedIds, "__id")
      .select(col("__m"), col("code"), col("__sv").as("cvec"))
      .localCheckpoint()
    Par.iterate("pqCodebooks", iters, seeds) { (cb, _) =>
      // argmin via the native nearest_l2 kernel over the per-subspace
      // broadcast candidate array — bit-contracted to the
      // min(struct(d2, code)) spelling it retired (NearestVecSpec).
      // The assign step is a per-row projection after a 16-row
      // broadcast join: the old spelling fanned sub × nCodes rows into
      // a (id, subspace)-keyed groupBy — a corpus-sized shuffle with
      // the subvectors riding the exchange, once per iteration (r17).
      val cands = broadcast(cb.groupBy(col("__m")).agg(
        sort_array(collect_list(struct(col("code"), col("cvec"))))
          .as("__cands")))
      val assigned = sub.join(cands, "__m")
        .select(col("__m"),
          nearestOrFirst("nearest_l2", "__sv", "code").as("code"),
          col("__sv"))
      assigned
        .select(col("__m"), col("code"),
          posexplode(col("__sv")).as(Seq("d", "x")))
        .groupBy(col("__m"), col("code"), col("d"))
        .agg((floor(avg(col("x")) * grid) / grid).as("mu"))
        .groupBy(col("__m"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("d"), col("mu")))),
          s => s.getField("mu")).as("cvec"))
    }.select(col("__m").as("subspace"), col("code"), col("cvec"))
  }

  /** IVF-PQ approximate top-k — the FAISS-style composition and the
    * 100 TB ANN scale path: the IVF inverted file prunes CANDIDATES
    * (only `nprobe` cells per query are scanned, so scored pairs grow
    * with cell occupancy, not corpus²), and PQ compresses the SCORING
    * (each candidate is m uint8 codes; distance = m table lookups + m-1
    * adds instead of a 64-dim float dot — at scale the inverted lists
    * ship codes, 4 bytes/vector here, not 256-byte raw vectors).
    *
    * Asymmetric distance (ADC): per query a (subspace, code) → squared-L2
    * lookup table against the query's OWN subvectors (m·nCodes rows,
    * broadcast); approx dist(q, x) = Σ_m lut[m][code_m(x)]. Every LUT
    * entry is an exact dyadic (grid inputs — [[pqCodebooks]] note), so
    * the Σ_m is exact under any order and cross-engine identical; ties
    * break by cand_id. The ADC shortlist (k·refine per query) is then
    * EXACT-cosine re-ranked — the FAISS refine stage — so recall tracks
    * the IVF probe ceiling while raw-vector reads stay shortlist-sized.
    * Output: (query_id, rk, cand_id, cos_sim).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nCells: Int = 16, nprobe: Int = 4,
             ivfIters: Int = 2, m: Int = 4, nCodes: Int = 16,
             pqIters: Int = 2, grid: Int = 1024,
             refine: Int = 4): DataFrame =
    pqQueryIndex(
      pqIndexBuild(corpus, idCol, vecCol, nCells, ivfIters, m, nCodes,
        pqIters, grid),
      corpus, queries, idCol, vecCol, k, nprobe, refine)

  /** The published IVF-PQ index: four persistable frames (write them
    * with the S11 parquet-store discipline, reload, and serving is
    * unchanged) plus the two geometry constants baked in at training
    * time. `centroids` (cell, cvec) and `codebooks` (subspace, code,
    * cvec) are broadcast-sized parameter tables; `invFile` (cand_id,
    * cell) and `codes` (cand_id, subspace, code) are the corpus-sized
    * compressed representation — the bytes the inverted lists ship at
    * scale instead of raw vectors.
    */
  case class PqIndex(centroids: DataFrame, codebooks: DataFrame,
                     invFile: DataFrame, codes: DataFrame,
                     m: Int, grid: Int)

  /** Train the IVF-PQ index ONCE — the build half of [[pqTopK]], split
    * out so the index outlives the query: persist the four frames,
    * reload, and serve any number of query batches (including
    * streaming micro-batches via
    * `graft.streaming.Streams.streamingPqScore`) without re-training.
    */
  def pqIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int = 16, ivfIters: Int = 2, m: Int = 4,
                   nCodes: Int = 16, pqIters: Int = 2,
                   grid: Int = 1024): PqIndex = {
    require(Dedup.vecDims(corpus, vecCol) % m == 0,
      "pqIndexBuild needs dims % m == 0 (see pqCodebooks)")
    val cents = ivfCentroids(corpus, idCol, vecCol, nCells, ivfIters,
      Some(grid))
    val cb = pqCodebooks(corpus, idCol, vecCol, m, nCodes, pqIters, grid)
    val inv = nearestCells(broadcast(cents), corpus, idCol, vecCol,
      "cand_id", 1)
    val codes = pqCodes(broadcast(cb), corpus, idCol, vecCol, m, grid)
    PqIndex(cents, cb, inv, codes, m, grid)
  }

  /** Serve top-k from a FROZEN [[PqIndex]] — the query half of
    * [[pqTopK]]: probe the index's centroids, prune via the inverted
    * file, ADC-score via codes × per-query LUT, exact-cosine re-rank
    * the shortlist. Stateless in the queries — the same call serves a
    * static frame or a streaming micro-batch.
    */
  def pqQueryIndex(index: PqIndex, corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   nprobe: Int = 4, refine: Int = 4): DataFrame = {
    require(refine >= 1, "pqQueryIndex needs refine >= 1")
    val probes = nearestCells(broadcast(index.centroids), queries, idCol,
      vecCol, "query_id", nprobe)
    val cand = candidatePairs(index.invFile, probes)
    val lut = pqLut(broadcast(index.codebooks), queries, idCol, vecCol,
      index.m, index.grid)
    // ADC shortlist of k·refine per query, then EXACT cosine re-rank —
    // the FAISS `refine` stage: the compressed index prunes, the raw
    // vectors (fetched only for the shortlist) decide the final order,
    // so recall approaches the IVF probe ceiling while the exact reads
    // stay O(queries · k · refine), not O(candidates)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("__adc").asc, col("cand_id"))
    val shortlist = cand.join(index.codes, "cand_id")
      .join(lut, Seq("query_id", "__m", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("__qd2")).as("__adc"))
      .withColumn("__ark", row_number().over(wAdc))
      .filter(col("__ark") <= k * refine)
      .select(col("query_id"), col("cand_id"))
    exactCosineRerank(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** Corpus → m uint8-sized codes (the compressed representation):
    * nearest codebook entry per (vector, subspace) under the exact-
    * dyadic squared-L2 + (dist, code) total order. Shared by
    * [[pqTopK]] and [[annQualitySweep]].
    */
  private def pqCodes(cb: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, m: Int, grid: Int): DataFrame = {
    // per-row argmin via nearest_l2 (bit-contracted to the retired
    // min(struct(d2, code)) — NearestVecSpec): encoding is a projection
    // after a subspaces-row broadcast join, not a corpus-keyed shuffle
    val cands = broadcast(cb.groupBy(col("subspace").as("__m")).agg(
      sort_array(collect_list(struct(col("code"), col("cvec"))))
        .as("__cands")))
    subvectors(corpus, idCol, vecCol, m, grid)
      .join(cands, "__m")
      .select(col("__id").as("cand_id"), col("__m"),
        nearestOrFirst("nearest_l2", "__sv", "code").as("code"))
  }

  /** Per-query ADC lookup table (m·nCodes rows per query, broadcast):
    * squared-L2 of each query subvector against every codebook entry.
    */
  private def pqLut(cb: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, m: Int, grid: Int): DataFrame =
    broadcast(
      subvectors(queries, idCol, vecCol, m, grid)
        .join(cb, col("__m") === cb("subspace"))
        .select(col("__id").as("query_id"), col("__m"), col("code"),
          l2sq(col("__sv"), col("cvec")).as("__qd2")))

  /** ANN recall-vs-cost curve over ONE deterministic IVF-PQ index: for
    * every (nprobe, refine) config in the sweep grid, recall@k of the
    * [[pqTopK]] pipeline against the exact [[cosineTopK]] baseline —
    * the production-tuning gate that pins which config clears a recall
    * target before anyone ships it (FAISS users read this table off
    * `faiss.ParameterSpace`; here it is a query, so the curve lands in
    * the gate HISTORY and a recall regression is a diff, not an
    * incident).
    *
    * Cost shape — the index trains ONCE, scores ONCE, ranks per config:
    * the IVF inverted file and probe ranks are computed once up to
    * max(nprobe) (each candidate lives in exactly one cell, so a
    * (query, cand) pair carries ONE probe rank and "candidates at
    * nprobe = p" is the filter `cell_rank <= p` — no re-probe per
    * config); the ADC sum is computed once per candidate pair; the
    * per-config shortlist is a rank over that one scored frame; exact
    * cosines are fetched once for the UNION of shortlists (bounded by
    * k·max(refine) per query per nprobe), never per config. Config
    * fan-out multiplies only |nprobes| × window ranks and a
    * |configs|-row broadcast join — the corpus is scanned a fixed
    * number of times however wide the sweep is.
    *
    * Output: one row per config — (nprobe, refine, k, n_queries,
    * n_exact, n_returned, n_hits, recall), ordered by (nprobe, refine).
    * Deterministic: every rank is a total order, recall is a ratio of
    * exact counts.
    */
  def annQualitySweep(corpus: DataFrame,
                      queryPred: org.apache.spark.sql.Column,
                      idCol: String, vecCol: String, k: Int,
                      nCells: Int, nprobes: Seq[Int], refines: Seq[Int],
                      ivfIters: Int = 2, m: Int = 4, nCodes: Int = 16,
                      pqIters: Int = 2, grid: Int = 1024): DataFrame = {
    require(nprobes.nonEmpty && refines.nonEmpty,
      "annQualitySweep needs a non-empty (nprobe, refine) grid")
    require(nprobes.forall(p => p >= 1 && p <= nCells),
      s"annQualitySweep nprobes must sit in [1, nCells=$nCells]")
    require(refines.forall(_ >= 1), "annQualitySweep refines must be >= 1")
    require(Dedup.vecDims(corpus, vecCol) % m == 0,
      "annQualitySweep needs dims % m == 0 (see pqCodebooks)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val queries = corpus.filter(queryPred)
    val nps = nprobes.distinct.sorted
    val rfs = refines.distinct.sorted
    val cents = broadcast(
      ivfCentroids(corpus, idCol, vecCol, nCells, ivfIters, Some(grid)))
    // inverted file via the nearest_cos kernel projection (rank-1 ≡
    // the window below — NearestVecSpec); the probe side keeps the
    // window (it needs ranks 1..max(nprobe), and the query set is the
    // sampled broadcast-bounded side)
    val inv = nearestCells(cents, corpus, idCol, vecCol, "cand_id", 1)
    val prb = rankedCells(cents, queries, idCol, vecCol, nps.max)
      .select(col("__id").as("query_id"), col("cell"),
        col("__rk").as("cell_rank"))
    // each cand sits in ONE cell ⇒ one row per (query, cand) pair, its
    // probe rank attached; no distinct needed
    val pairs = inv.join(broadcast(prb), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id", "cell_rank")
    val cb = broadcast(
      pqCodebooks(corpus, idCol, vecCol, m, nCodes, pqIters, grid))
    val codes = pqCodes(cb, corpus, idCol, vecCol, m, grid)
    val lut = pqLut(cb, queries, idCol, vecCol, m, grid)
    val adc = pairs.join(codes, "cand_id")
      .join(lut, Seq("query_id", "__m", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(min(col("cell_rank")).as("cell_rank"),
        sum(col("__qd2")).as("__adc"))
    // one ADC rank per distinct nprobe (the rank depends on the
    // candidate set, which depends on nprobe alone)
    val wAdc = Window.partitionBy("query_id", "nprobe")
      .orderBy(col("__adc").asc, col("cand_id"))
    val arked = adc
      .crossJoin(broadcast(nps.toDF("nprobe")))
      .filter(col("cell_rank") <= col("nprobe"))
      .withColumn("__ark", row_number().over(wAdc))
      .filter(col("__ark") <= k * rfs.max)
      .localCheckpoint()
    // exact cosines once for the union of shortlists
    val needed = arked.select("query_id", "cand_id").distinct()
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cos = needed.join(c, "cand_id").join(broadcast(q), "query_id")
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .select("query_id", "cand_id", "cos")
    val cfg = (for { np <- nps; rf <- rfs } yield (np, rf))
      .toDF("nprobe", "refine")
    val wCos = Window.partitionBy("query_id", "nprobe", "refine")
      .orderBy(col("cos").desc, col("cand_id"))
    val topk = arked.join(broadcast(cfg), Seq("nprobe"))
      .filter(col("__ark") <= lit(k) * col("refine"))
      .join(cos, Seq("query_id", "cand_id"))
      .withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= k)
    val exact = cosineTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("cand_id"))
    val nEx = exact.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("query_id")).as("n_queries"))
    topk
      .join(exact.withColumn("__ex", lit(1)),
        Seq("query_id", "cand_id"), "left_outer")
      .groupBy(col("nprobe"), col("refine"))
      .agg(count(lit(1)).as("n_returned"),
        sum(when(col("__ex").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .crossJoin(broadcast(nEx))
      .select(col("nprobe"), col("refine"), lit(k).cast("int").as("k"),
        col("n_queries"), col("n_exact"), col("n_returned"),
        col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall"))
      .orderBy("nprobe", "refine")
  }

  /** Pairwise cosine similarity between per-label centroid embeddings —
    * the class-geometry diagnostic (which labels' embedding clouds
    * overlap? near-parallel centroids predict classifier confusion and
    * flag label-definition drift). Centroids are per-(label, dim) means
    * rounded to 6 (the [[meanPoolEmbeddings]] determinism rule: the
    * rounding absorbs distributed-sum order), so the pairwise cosine
    * runs over identical inputs in both engines.
    *
    * Scale shape: the corpus collapses to a labels×dims frame in ONE
    * map-side-combined aggregate; the pair join is a broadcast
    * nested-loop over the LABELS-bounded centroid frame (allowlisted —
    * label cardinality, never corpus size). Output: labels² rows.
    */
  def centroidSimilarity(emb: DataFrame, labelCol: String,
                         vecCol: String): DataFrame = {
    Par.requireKernel(emb.sparkSession, "cosine_sim")
    val cents = emb
      .select(col(labelCol).as("lab"),
        posexplode(doubles(vecCol))
          .as(Seq("d", "x")))
      .groupBy(col("lab"), col("d"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("lab"))
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m")).as("cvec"))
      .localCheckpoint()
    cents.as("a")
      .join(broadcast(cents.as("b")), col("a.lab") < col("b.lab"))
      .select(col("a.lab").as("label_a"), col("b.lab").as("label_b"),
        col("a.cvec").as("__va"), col("b.cvec").as("__vb"))
      .withColumn("cos_sim",
        round(expr("cosine_sim(__va, __vb)"), 6))
      .select(col("label_a"), col("label_b"), col("cos_sim"))
      .orderBy("label_a", "label_b")
  }

  /** Per-group embedding-centroid drift vs the GLOBAL centroid — the
    * encoder-health read [[centroidSimilarity]]'s pairwise matrix
    * doesn't give directly: for every group (label, source, snapshot…)
    * the cosine of its round-6 centroid to the whole-corpus centroid
    * and the centroid-norm ratio. A group whose centroid swings off
    * the corpus axis (low cos) is topically off-distribution; one
    * whose norm RATIO collapses embeds near the origin relative to the
    * corpus (dead/eccentric encoder slice) — the two failure modes a
    * corpus-mix decision should see before trusting group weights.
    *
    * Float discipline: per-dim means are round-6 BEFORE any vector
    * arithmetic (centroidSimilarity's rule), so cos and norms are
    * deterministic folds over pinned 6-decimal vectors; cos gets the
    * `+ 0.0` guard (a near-orthogonal group legitimately rounds to
    * ±0). Scale: one (group, dim)-keyed mean shuffle (the global
    * centroid reuses the same exploded pass) + GROUPS-bounded
    * arithmetic; the global vector broadcasts as a 1-row frame.
    */
  def centroidDrift(emb: DataFrame, groupCol: String,
                    vecCol: String): DataFrame = {
    Par.requireKernel(emb.sparkSession, "cosine_sim")
    val dims = emb
      .select(col(groupCol).as("grp"),
        posexplode(doubles(vecCol))
          .as(Seq("d", "x")))
      .localCheckpoint()
    def fold(df: DataFrame, keys: Seq[String]) = df
      .groupBy((keys :+ "d").map(col): _*)
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m")).as("cvec"))
    val gvec = fold(dims, Seq("grp"))
    val glob = fold(dims.withColumn("__one", lit(1)), Seq("__one"))
      .select(col("cvec").as("gl"))
    val counts = emb.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"))
    gvec.join(counts, "grp")
      .crossJoin(broadcast(glob))
      .select(col("grp").as(groupCol), col("n"),
        (round(expr("cosine_sim(cvec, gl)"), 6) + lit(0.0))
          .as("cos_to_global"),
        round(sqrt(call_function("dot_prod", col("cvec"), col("cvec"))) /
          sqrt(call_function("dot_prod", col("gl"), col("gl"))), 6)
          .as("norm_ratio"))
      .orderBy(groupCol)
  }

  /** Nearest-cell assignment WITH the winning cosine — the shared body
    * behind [[clusterProfile]] and [[diverseSample]]: broadcast-argmax
    * over the centroid table with the (cos DESC, cell) total order, one
    * row per corpus vector.
    */
  private def assignCells(corpus: DataFrame, idCol: String,
                          vecCol: String, cents: DataFrame): DataFrame = {
    // kernel argmax (bit-contracted to the retired rank-1 window —
    // NearestVecSpec), then ONE winning-cell cosine via a broadcast
    // equi-join back to the centroid table: k cosines per row become
    // one, and the id-keyed window exchange disappears (r17)
    corpus.select(col(idCol).as("__id"),
        doubles(vecCol).as("__v"))
      .crossJoin(cellArray(cents))
      .select(col("__id"), col("__v"),
        nearestOrFirst("nearest_cos", "__v", "cell").as("cell"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("__id"), col("cell"),
        expr("cosine_sim(__v, cvec)").as("__cos"))
  }

  /** Per-cluster corpus profile — the "what is IN this corpus" map a
    * 100 TB curation run starts from: k-means cells over the embedding
    * space ([[ivfCentroids]] with the dyadic grid, so training is
    * cross-engine exact), then per-cell size, share, and cohesion
    * (mean/min cosine to the own centroid — a low-cohesion cell is a
    * garbage-catch-all; a tiny tight cell is near-duplicate spam).
    *
    * Float discipline: per-vector cosines are floored onto the 2^-20
    * dyadic lattice BEFORE averaging, so the per-cell sums are exact in
    * any accumulation order and the mean is one correctly-rounded
    * quotient; the share denominator folds over the CELLS-bounded frame.
    *
    * Scale notes: one broadcast-argmax pass (no shuffle for the
    * assignment itself), one map-side-combined groupBy on the cell id —
    * shuffle width = nCells. Training cost is iters broadcast passes.
    */
  def clusterProfile(corpus: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, iters: Int = 3,
                     grid: Int = 1024): DataFrame = {
    Par.requireKernel(corpus.sparkSession, "cosine_sim")
    val cents = ivfCentroids(corpus, idCol, vecCol, nCells, iters,
      Some(grid))
    val assigned = assignCells(corpus, idCol, vecCol, cents)
    val cq = floor(col("__cos") * 1048576) / 1048576
    val wAll = Window.orderBy("cell")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    assigned.select(col("cell"), cq.as("__cq"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), avg(col("__cq")).as("__m"),
        min(col("__cq")).as("__mn"))
      .withColumn("__tot", sum(col("n")).over(wAll))
      .select(col("cell"), col("n"),
        round(col("n") / col("__tot"), 6).as("share"),
        round(col("__m"), 6).as("mean_cos"),
        round(col("__mn"), 6).as("min_cos"))
      .orderBy("cell")
  }

  /** Simplified silhouette per cluster — the SEPARATION read
    * [[clusterProfile]] lacks (its cohesion says how tight a cell is;
    * nothing says whether cells are DISTINCT): per vector,
    * a = cosine to the own (winning) centroid, b = best cosine to any
    * OTHER centroid, s = a − b (the centroid-simplified silhouette —
    * Hruschka et al.'s O(n·k) form of Rousseeuw's O(n²) original).
    * s ≈ 1 means the point is near its centroid and far from every
    * other (real structure); s ≈ 0 means the two best centroids are
    * interchangeable (the clustering is cosmetic) — the go/no-go read
    * before [[diverseSample]] or corpus-mix decisions trust the cells.
    *
    * Float discipline: a and b are floored onto the 2^-20 dyadic
    * lattice BEFORE any aggregation (clusterProfile's rule), so a − b
    * is exact, per-cell sums are accumulation-order-free, and the
    * means are one correctly-rounded quotient each; round-6 `+ 0.0`
    * because a merged clustering legitimately produces tiny-negative
    * means.
    *
    * Scale notes: ONE broadcast-argmax pass keeping ranks 1-2 (no
    * extra corpus pass vs clusterProfile), one vector-keyed pivot
    * (map-side combinable), one nCells-wide groupBy. Training cost is
    * the shared dyadic Lloyd chain.
    */
  def silhouette(corpus: DataFrame, idCol: String, vecCol: String,
                 nCells: Int, iters: Int = 3,
                 grid: Int = 1024): DataFrame = {
    require(nCells >= 2, "silhouette needs nCells >= 2 (b is a cosine " +
      "to some OTHER centroid)")
    Par.requireKernel(corpus.sparkSession, "cosine_sim")
    val cents = ivfCentroids(corpus, idCol, vecCol, nCells, iters,
      Some(grid))
    val w = Window.partitionBy("__id")
      .orderBy(col("__cos").desc, col("cell"))
    val cq = floor(col("__cos") * 1048576) / 1048576
    val ranked = corpus.select(col(idCol).as("__id"),
        doubles(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("__cos", expr("cosine_sim(__v, cvec)"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 2)
      .select(col("__id"), col("cell"), col("__rk"), cq.as("__cq"))
    ranked
      .groupBy("__id")
      .agg(max(when(col("__rk") === 1, col("cell"))).as("cell"),
        max(when(col("__rk") === 1, col("__cq"))).as("__a"),
        max(when(col("__rk") === 2, col("__cq"))).as("__b"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        avg(col("__a")).as("__ma"),
        avg(col("__b")).as("__mb"),
        avg(col("__a") - col("__b")).as("__ms"),
        min(col("__a") - col("__b")).as("__mns"))
      .select(col("cell"), col("n"),
        (round(col("__ma"), 6) + lit(0.0)).as("mean_cos_own"),
        (round(col("__mb"), 6) + lit(0.0)).as("mean_cos_other"),
        (round(col("__ms"), 6) + lit(0.0)).as("silhouette"),
        (round(col("__mns"), 6) + lit(0.0)).as("min_silhouette"))
      .orderBy("cell")
  }

  /** SemDeDup-style within-cell semantic prune (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): the embedding-cluster dedup that catches
    * PARAPHRASE duplicates LSH hyperplanes under-bucket — near-copies
    * whose token overlap is low but whose embeddings nearly coincide.
    * Composes three existing pieces, which is the point: the dyadic
    * Lloyd cells ([[ivfCentroids]] — cross-engine exact), exact cosine
    * pairs WITHIN each cell only (cell-keyed equi-join, so the pair
    * space is Σ n_c², occupancy-bounded — SemDeDup's own cost model:
    * at corpus scale nCells grows with n to pin per-cell occupancy,
    * keeping the pair pass linear), and
    * [[Dedup.resolveDuplicatesByQuality]]'s keeper rule over the
    * [[Dedup.dupClusters]] closure of the ε-near pairs: each duplicate
    * set keeps its highest-quality member (ties to the smallest id).
    *
    * Recall boundary, shrunk by MULTI-PROBE (the standard IVF trade):
    * the PAIR pass assigns each vector to its top-`nProbes` cells (the
    * output cell map stays top-1), so a near-pair straddling one
    * converged boundary is examined whenever the two probe sets
    * intersect — at ~nProbes² × the single-probe pair space, still
    * occupancy-bounded. What remains unexamined (spec-documented) is a
    * pair whose probe sets are DISJOINT — both members at least two
    * cells apart, which at a duplicate-grade cosine requires
    * pathologically split centroids.
    *
    * Float discipline: pair cosines are floored onto the 2^-20 dyadic
    * lattice before the threshold ([[clusterProfile]]'s rule), so the
    * prune set is bit-reproducible cross-engine.
    *
    * Materializations: the (id, vector, quality) projection of the
    * corpus, once (the seeds and every Lloyd round read it, so the
    * caller's plan runs once); the Lloyd rounds; the probe file, which
    * carries the quality, so the result is its rank-1 rows minus the drop
    * list with no join back to the corpus; and [[Dedup.dupClusters]]'
    * edge list and label rounds. Once the probe file is materialized the
    * projection and the last centroid checkpoint are released: the
    * returned frame holds only the probe file and the cluster labels.
    *
    * Returns the SURVIVING vectors as (id, cell, quality), one row per
    * kept vector — the cleaned corpus map downstream mixing reads.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               qualityCol: String, threshold: Double, nCells: Int,
               iters: Int = 3, grid: Int = 1024,
               nProbes: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      "semDedup threshold must be in (0, 1)")
    require(nProbes >= 1 && nProbes <= 4,
      "semDedup probes 1..4 cells per vector (pair space ~ nProbes^2)")
    Par.requireKernel(corpus.sparkSession, "cosine_sim")
    val base = corpus.select(col(idCol).as("__id"),
        doubles(vecCol).as("__v"), col(qualityCol).as("__q"))
      .localCheckpoint()
    val cents = ivfCentroids(base, "__id", "__v", nCells, iters,
      Some(grid))
    // probe file carrying the raw vector and the quality: rank-1 rows are
    // the output cell map, ranks 1..nProbes feed the pair join —
    // materialize once
    val probes = base
      .crossJoin(broadcast(cents))
      .withColumn("__cos", expr("cosine_sim(__v, cvec)"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id")
          .orderBy(col("__cos").desc, col("cell"))))
      .filter(col("__rk") <= nProbes)
      .select(col("cell"), col("__id"), col("__v"), col("__q"), col("__rk"))
      .localCheckpoint()
    // the returned frame reads only the probe file and the cluster labels
    Par.unpersistCheckpoint(cents)
    Par.unpersistCheckpoint(base)
    // a pair sharing two probe cells scores twice and must count once —
    // dupClusters' edge `distinct` dedups it AFTER the threshold, not
    // before: dropDuplicates on the raw candidate fan-out shuffled Σn_c²
    // rows with BOTH 64-dim vectors riding the exchange (~1 GB at sf0.1 —
    // r17 measurement: the pair pass was 5.0 s of the gate's 9 s).
    // Scoring first keeps the cosine map-side on the cell-join output and
    // the dedup exchange carries only the SURVIVING id pairs (near-dups —
    // tiny by definition). Identical pair set: duplicate candidate rows
    // carry identical vectors, so both copies pass or fail the threshold
    // together and the id-level dedup picks among equals.
    val pairs = probes.select(col("cell"), col("__id").as("id_i"),
        col("__v").as("__vi"))
      .join(probes.select(col("cell"), col("__id").as("id_j"),
        col("__v").as("__vj")), Seq("cell"))
      .filter(col("id_i") < col("id_j"))
      .withColumn("__c",
        floor(expr("cosine_sim(__vi, __vj)") * 1048576) / 1048576)
      .filter(col("__c") >= threshold)
      .select(col("id_i"), col("id_j"))
    val inv = probes.filter(col("__rk") === 1)
      .select(col("__id").as(idCol), col("cell"), col("__q").as(qualityCol))
    Dedup.resolveDuplicatesByQuality(inv, Dedup.dupClusters(pairs), idCol,
        qualityCol)
      .orderBy(idCol)
  }

  /** Occupancy-stable [[semDedup]] — nCells derived from the corpus
    * count instead of fixed: nCells = max(minCells,
    * 2^⌈log2(⌈n / targetPerCell⌉)⌉), integer bit arithmetic (the
    * [[Dedup.autoPlanes]] discipline — float-free, and `targetPerCell`
    * must be a power of two so the oracle's `ceil(count / t)` double
    * division is exact). Fixed cells grow per-cell occupancy — and the
    * multi-probe pair space Σ n_c² — LINEARLY with n; the count-sized
    * cell count pins occupancy at ~targetPerCell, which is SemDeDup's
    * own cost model for keeping the pair pass linear at corpus scale.
    * Power-of-two rounding makes the derived count a step function of
    * n, so Lloyd re-seeds only at doubling boundaries, not every batch.
    * One `count()` job up front (driver-side scalar, the
    * [[Dedup.embeddingCosinePairsLshAuto]] precedent).
    */
  def semDedupAuto(corpus: DataFrame, idCol: String, vecCol: String,
                   qualityCol: String, threshold: Double,
                   minCells: Int = 4, targetPerCell: Int = 64,
                   iters: Int = 3, grid: Int = 1024,
                   nProbes: Int = 2): DataFrame =
    semDedup(corpus, idCol, vecCol, qualityCol, threshold,
      autoCells(corpus.count(), minCells, targetPerCell), iters, grid,
      nProbes)

  /** max(minCells, 2^⌈log2(⌈n / targetPerCell⌉)⌉) via integer bit
    * arithmetic. Exactness bound: the oracle replays ⌈log2⌉ in IEEE
    * doubles, which agrees with the bit form for every v below ~2^49
    * (far past any real corpus-count/target ratio).
    */
  def autoCells(n: Long, minCells: Int, targetPerCell: Int): Int = {
    require(minCells >= 1, "autoCells needs minCells >= 1")
    require(targetPerCell >= 1 &&
      (targetPerCell & (targetPerCell - 1)) == 0,
      "targetPerCell must be a power of two (exact oracle division)")
    val v = (n + targetPerCell - 1) / targetPerCell
    val bits =
      if (v <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v - 1)
    math.max(minCells, 1 << bits)
  }

  /** Cluster-balanced diverse sampling — the anti-mode-collapse subset
    * selector: take `perCell` vectors from EVERY k-means cell (md5-order
    * within the cell, so the pick is uniform over the cell and fully
    * deterministic) instead of a global sample that mirrors the corpus'
    * skew. The training-data use: a capped, topic-balanced eval or
    * annotation set from a long-tailed corpus. Output: (cell,
    * rank_in_cell, id), nCells×perCell rows.
    *
    * Scale notes: the per-cell rank window is hash-partitioned on the
    * cell id; nothing corpus-sized funnels to one reducer.
    */
  def diverseSample(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, perCell: Int, iters: Int = 3,
                    grid: Int = 1024): DataFrame = {
    require(perCell >= 1, s"diverseSample needs perCell >= 1")
    Par.requireKernel(corpus.sparkSession, "cosine_sim")
    val cents = ivfCentroids(corpus, idCol, vecCol, nCells, iters,
      Some(grid))
    val assigned = assignCells(corpus, idCol, vecCol, cents)
    val w = Window.partitionBy("cell")
      .orderBy(md5(col("__id").cast("string")), col("__id"))
    assigned.select(col("cell"), col("__id"))
      .withColumn("rank_in_cell", row_number().over(w))
      .filter(col("rank_in_cell") <= perCell)
      .select(col("cell"), col("rank_in_cell"), col("__id").as(idCol))
      .orderBy("cell", "rank_in_cell")
  }

  /** (id, subspace, gridded UNIT subvector) rows: the vector is L2-
    * normalized (so squared L2 tracks cosine: ‖a−b‖² = 2 − 2·cos — the
    * FAISS metric-alignment step; without it ADC ranks by magnitude,
    * not angle), dyadic-gridded, then cut into m contiguous slices —
    * the row-keyed form that lets one Lloyd / one join train and encode
    * ALL subspaces at once. The norm is the sequential `dot_prod` fold
    * (engine-exact), the division is one IEEE op per element, and the
    * grid floor re-establishes the exact-dyadic property the ADC sums
    * rely on; zero vectors pass through unnormalized.
    */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int, grid: Int): DataFrame = {
    val vd = doubles(vecCol)
    // the m-way explode fans every vector into m subvector rows that
    // downstream code/codebook joins multiply by nCodes — an
    // under-split source (the driver testdata's single-row-group
    // parquet) would run that whole l2_sq fan on ONE task while the
    // other cores idle (r17 measurement: pqCodebooks(m=16, nCodes=64)
    // spent ~5 s single-task at sf0.1). Par.ensure is a no-op on any
    // properly-split input.
    val df2 = Par.ensure(df).select(col(idCol).as("__id"), vd.as("__vd"))
      .withColumn("__nrm",
        sqrt(call_function("dot_prod", col("__vd"), col("__vd"))))
    val unit = transform(col("__vd"),
      x => when(col("__nrm") > 0, x / col("__nrm")).otherwise(x))
    val vg = transform(unit, x => floor(x * grid) / grid)
    df2.select(col("__id"), vg.as("__vg"),
        explode(sequence(lit(0), lit(m - 1))).as("__m"))
      .withColumn("__sub", (size(col("__vg")) / m).cast("int"))
      .select(col("__id"), col("__m"),
        slice(col("__vg"), col("__m") * col("__sub") + 1,
          col("__sub")).as("__sv"))
  }

  /** Exact-dyadic squared L2 over equal-length arrays — the native
    * codegen'd `l2_sq` kernel (L2SquaredSpec proves bit-identity with
    * the `aggregate(zip_with(...))` fold it replaced). With both inputs
    * on a 2^-k lattice every term (and the running sum) is exactly
    * representable, so the left-to-right accumulation equals ANY other
    * association — the property the PQ oracle's dot-product spelling
    * relies on.
    */
  private def l2sq(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("l2_sq", a, b)
}
