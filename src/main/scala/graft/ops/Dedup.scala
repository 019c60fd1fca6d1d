package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines — the
  * BASELINE.json extension surface (SURVEY §7.1 M5). The reference has only
  * loop-form exact dedup (`/root/reference/etl/loader.py:36-57`,
  * `/root/reference/database/operations.py:175-206`); everything else here is
  * the standard corpus-dedup toolkit re-expressed Spark-first.
  *
  * Scale design (100 TB rules):
  *  - every op is shuffle-bounded: hash-groupBy for exact dedup, explode →
  *    groupBy for signatures, bucket-equi-join (never cross join) for
  *    candidate generation;
  *  - candidate pairs come from LSH band buckets / shingle postings, so the
  *    pair space is data-dependent, not O(n²);
  *  - all hashes are md5-derived (codegen'd built-in) and deterministic, so
  *    results are reproducible across runs and engines — the DuckDB oracle
  *    computes the identical signatures.
  */
object Dedup {

  /** Portable 60-bit hash: first 15 hex chars of md5 as a non-negative long.
    * Identical in DuckDB: `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`.
    * Evaluated by the native [[graft.functions.Md5H60]] kernel (digest
    * bytes straight to the long, thread-local MessageDigest — no hex
    * encode/substring/radix parse per row); bit-identical to the
    * built-in spelling [[h60Hof]], A/B-gated in Md5H60Spec.
    */
  def h60(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.Md5H60(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(c)))

  /** The retired built-in spelling of [[h60]] — kept as the executable
    * bit-spec of the native kernel (and the exact shape every DuckDB
    * oracle replays).
    */
  private[graft] def h60Hof(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct token n-gram shingles per document: (id, shingle).
    * One narrow pass — split, windowed slices via transform/sequence,
    * array_distinct, explode; all codegen'd, no UDF.
    *
    * Documents with fewer than n tokens yield ONE short shingle (the whole
    * document) rather than none — a doc must never silently drop out of
    * the dedup universe. The DuckDB oracles encode the same rule
    * (`range(1, greatest(len(t)-1, 2))` for n=3).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame =
    // Par.ensure: the shingle expansion is the CPU-dense stage of every
    // dedup op — don't let an under-split source serialize it on one
    // core (no-op on well-split inputs). The distinct-shingle array is
    // the native [[graft.functions.TokenShingles]] kernel (one fused
    // split/slide/join/dedup pass); bit-identical to the HOF spelling
    // [[shinglesHofCol]], A/B-gated in TokenShinglesSpec.
    Par.ensure(df).select(col(idCol), explode(
      org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.functions.TokenShingles(
          org.apache.spark.sql.graftshim.ColumnBridge.expression(
            col(textCol)), n))).as("shingle"))

  /** The retired HOF spelling of the [[shingles]] array — kept as the
    * executable bit-spec of the native kernel (and the shape the DuckDB
    * oracles replay).
    */
  private[graft] def shinglesHofCol(t: Column, n: Int): Column = {
    val toks = split(t, " ")
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** MinHash-LSH band calibrator — the S-curve table that picks (bands,
    * rows) BEFORE anyone pays for a signature pass: for every split
    * b·r = numHashes, the detection probability p(s) = 1 − (1 − sʳ)ᵇ
    * at the target Jaccard threshold, plus the false-positive mass
    * (Σ p(s) below the threshold) and false-negative mass
    * (Σ 1 − p(s) at/above it) over a uniform similarity grid — the
    * textbook MMDS §3.4 trade-off made a table, with `chosen` marking
    * the minimal-total-error split that [[minhashLshPairs]] should run.
    *
    * Exact cross-engine by construction: numHashes must be a power of
    * two, so every r and b is too, and sʳ/(1−sʳ)ᵇ evaluate by REPEATED
    * SQUARING — a chain of correctly-rounded IEEE multiplications over
    * dyadic grid points ((2i−1)/2G with G a power of two), bit-identical
    * in any engine; no pow()/exp·ln call whose last ulp is
    * implementation-defined. The masses fold over the grid in pinned i
    * order; the final /G is an exact power-of-two scaling.
    *
    * A bounded parameter table (pairs × grid rows), not a data pass —
    * the 100 TB posture is exactly that: calibrate on the closed form,
    * then spend the corpus pass once with the chosen split.
    */
  def lshCalibrate(spark: org.apache.spark.sql.SparkSession,
                   numHashes: Int = 128, threshold: Double = 0.5,
                   gridLog2: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(numHashes >= 2 && (numHashes & (numHashes - 1)) == 0,
      "lshCalibrate needs numHashes a power of two (exact squaring)")
    require(gridLog2 >= 2 && gridLog2 <= 8,
      "lshCalibrate needs 4..256 grid points (gridLog2 in 2..8)")
    val g = 1 << gridLog2
    require(threshold > 0 && threshold < 1 &&
      (threshold * 2 * g) == math.floor(threshold * 2 * g),
      "lshCalibrate needs a dyadic threshold on the 1/(2G) lattice")
    val log2n = java.lang.Integer.numberOfTrailingZeros(numHashes)
    val pairs = (0 to log2n).map(e => (1 << e, numHashes >> e))
    val rows = for {
      (b, r) <- pairs
      i <- 1 to g
    } yield (b, r, i, (2.0 * i - 1) / (2 * g))
    val df = rows.toDF("b", "r", "i", "s")
    // MATERIALIZED squaring chain (linear, one column per step, the
    // same shape as the oracle's chained CTEs): a nested expression
    // tree would duplicate the inner CASE once per squaring level —
    // ~10^5 codegen nodes and a measured ~7 s of constant
    // plan-compile time for a 128-row parameter table
    val rVals = pairs.map(_._2)
    val bVals = pairs.map(_._1)
    def caseOver(sel: Column, pfx: String, values: Seq[Int]): Column =
      values.tail.foldLeft(
        when(sel === values.head, col(
          pfx + java.lang.Integer.numberOfTrailingZeros(values.head)))) {
        (acc, v) => acc.when(sel === v,
          col(pfx + java.lang.Integer.numberOfTrailingZeros(v)))
      }
    def squareChain(df0: DataFrame, pfx: String, from: Column)
    : DataFrame =
      (1 to log2n).foldLeft(df0.withColumn(pfx + 0, from)) {
        (acc, k) =>
          acc.withColumn(pfx + k, col(pfx + (k - 1)) * col(pfx + (k - 1)))
      }
    // p(s) over the grid rows
    val withP = {
      val sv = squareChain(df, "__v", col("s"))
      val qv = squareChain(
        sv.withColumn("__q", lit(1.0) - caseOver(col("r"), "__v", rVals)),
        "__w", col("__q"))
      qv.withColumn("__p", lit(1.0) - caseOver(col("b"), "__w", bVals))
        .select(col("b"), col("r"), col("i"), col("s"), col("__p"))
    }
    val wCum = Window.partitionBy("b").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.orderBy(col("__err"), col("b"))
    val cum = withP
      .withColumn("__cfp", sum(when(col("s") < threshold, col("__p"))
        .otherwise(lit(0.0))).over(wCum))
      .withColumn("__cfn", sum(when(col("s") >= threshold,
        lit(1.0) - col("__p")).otherwise(lit(0.0))).over(wCum))
      .filter(col("i") === g)
      .withColumn("__err", (col("__cfp") + col("__cfn")) / lit(g))
    // p at the threshold itself: the same chain over the constant
    val atT = {
      val tv = squareChain(cum, "__t", lit(threshold))
      val xv = squareChain(
        tv.withColumn("__y", lit(1.0) - caseOver(col("r"), "__t", rVals)),
        "__x", col("__y"))
      xv.withColumn("__pt", lit(1.0) - caseOver(col("b"), "__x", bVals))
    }
    atT
      .withColumn("chosen", row_number().over(wPick) === 1)
      .select(col("b"), col("r"),
        round(col("__pt"), 6).as("p_at_threshold"),
        round(col("__cfp") / lit(g), 6).as("fp_mass"),
        round(col("__cfn") / lit(g), 6).as("fn_mass"),
        round(col("__err"), 6).as("total_err"),
        col("chosen"))
      .orderBy("b")
  }

  /** Exact dedup via content hash (hash-groupBy, the at-scale form of
    * dropDuplicates on a long text column: group on a 128-bit digest, not
    * the full payload, so the shuffle carries 32 bytes per row).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  /** Exact n-gram Jaccard near-dup pairs (i < j, jaccard >= threshold).
    * Pairs are generated from shingle postings (equi-join on the shingle),
    * so only documents sharing at least one shingle ever meet — at corpus
    * scale add a stop-shingle cap via [[maxDocFreq]] to bound posting-list
    * skew before the self-join.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDocFreq: Option[Long] = None): DataFrame = {
    val (sizes, common) = shingleCommons(df, idCol, textCol, n, maxDocFreq)
    jaccardPairs(common, sizes, idCol, threshold)
  }

  /** The undirected shingle overlap of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: each document's shingle count (idCol, n_sh)
    * and, for every pair sharing a shingle, the common count
    * (id_i < id_j, n_common).
    */
  private def shingleCommons(df: DataFrame, idCol: String, textCol: String,
                             n: Int, maxDocFreq: Option[Long])
      : (DataFrame, DataFrame) = {
    // the posting list feeds sizes + both pair-join sides (and the hot-set
    // scan when capped): materialize it once instead of re-running the
    // split/slice/explode over the corpus per consumer
    val sh0 = shingles(df, idCol, textCol, n).localCheckpoint()
    val sh = maxDocFreq match {
      case Some(cap) =>
        // skew guard: drop shingles occurring in more than `cap` docs —
        // they contribute O(df²) candidate pairs but little signal. The
        // hot set is computed with a map-side-combined groupBy and removed
        // via anti-join (no sort, no WindowExec over the full posting
        // list). No forced broadcast: the Zipfian head grows with the
        // corpus, so at 100 TB the hot set can exceed the broadcast
        // limit — let AQE pick broadcast when it is actually small and
        // fall back to a shuffle anti-join when it is not.
        val hot = sh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > cap)
          .select("shingle")
        sh0.join(hot, Seq("shingle"), "left_anti")
      case None => sh0
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val common = maxDocFreq match {
      case Some(cap) =>
        // capped postings are bounded (≤ cap ids per shingle), so emit
        // each shingle's doc-id pairs from ONE grouped pass — a ≤cap²
        // explode per shingle — instead of re-shuffling the full posting
        // list twice for a self-join. collect_list is safe here ONLY
        // because the hot shingles were already removed above.
        sh.groupBy(col("shingle"))
          .agg(collect_list(col(idCol)).as("__ids"))
          .select(explode(col("__ids")).as("id_i"), col("__ids"))
          .select(col("id_i"), explode(col("__ids")).as("id_j"))
          .filter(col("id_i") < col("id_j"))
          .groupBy("id_i", "id_j")
          .agg(count(lit(1)).as("n_common"))
      case None =>
        // unbounded posting lists (parity path): equi-join on the shingle
        // — no per-shingle buffering, at the cost of shuffling both sides
        sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") &&
              col(s"a.$idCol") < col(s"b.$idCol"))
          .groupBy(col(s"a.$idCol").as("id_i"), col(s"b.$idCol").as("id_j"))
          .agg(count(lit(1)).as("n_common"))
    }
    (sizes, common)
  }

  /** Exact Jaccard from the (id_i, id_j, n_common) counts and the per-doc
    * shingle counts (idCol, n_sh), kept at `threshold` and above.
    */
  private def jaccardPairs(common: DataFrame, sizes: DataFrame,
                           idCol: String, threshold: Double): DataFrame =
    common
      .join(sizes.withColumnRenamed(idCol, "id_i")
        .withColumnRenamed("n_sh", "n_i"), "id_i")
      .join(sizes.withColumnRenamed(idCol, "id_j")
        .withColumnRenamed("n_sh", "n_j"), "id_j")
      .withColumn("jaccard", round(
        col("n_common").cast("double")
          / (col("n_i") + col("n_j") - col("n_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_i"), col("id_j"), col("jaccard"))
      .orderBy("id_i", "id_j")

  /** Directed n-gram CONTAINMENT pairs: |shingles(i) ∩ shingles(j)| /
    * |shingles(i)| ≥ threshold, i ≠ j — the asymmetric twin of
    * [[ngramJaccardPairs]] that catches "document i is (mostly) inside
    * document j": quote-expansions, boilerplate supersets, and
    * train/eval overlap where the eval snippet is a fragment of a much
    * larger training doc, which symmetric Jaccard misses because the
    * size mismatch dilutes the union.
    *
    * Same candidate discipline as Jaccard (shingle-posting equi-join,
    * optional stop-shingle cap bounding posting skew); the undirected
    * common counts are computed ONCE (i < j) and mirrored into both
    * directions before the size join, so containment costs the same
    * single pair pass. Output ordered by (containment DESC, id_i, id_j).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    val (sizes, common) = shingleCommons(df, idCol, textCol, n, maxDocFreq)
    val directed = common
      .unionAll(common.select(col("id_j").as("id_i"),
        col("id_i").as("id_j"), col("n_common")))
    directed
      .join(sizes.withColumnRenamed(idCol, "id_i")
        .withColumnRenamed("n_sh", "n_i"), "id_i")
      .withColumn("containment", round(
        col("n_common").cast("double") / col("n_i").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_i"), col("id_j"), col("n_common"), col("n_i"),
        col("containment"))
      .orderBy(col("containment").desc, col("id_i"), col("id_j"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * freshness metric behind dedup-aware data acquisition ("how much of
    * this new batch is text we do not already have?"): for each incoming
    * document, the fraction of its distinct n-gram shingles NOT present
    * in the reference's shingle vocabulary. [[decontaminate]] answers
    * the binary "does it overlap an eval doc"; this grades the degree,
    * per document, against the whole reference.
    *
    * Scale shape: the reference collapses to its DISTINCT shingle
    * vocabulary (map-side combined — reference volume never joins);
    * incoming shingles left-join that vocabulary on the shingle and one
    * per-doc aggregate counts hits. Both shuffles are shingle-keyed.
    */
  def noveltyRates(incoming: DataFrame, reference: DataFrame,
                   idCol: String, textCol: String, n: Int): DataFrame = {
    val refVocab = shingles(reference, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .withColumn("__known", lit(1))
    shingles(incoming, idCol, textCol, n)
      .join(refVocab, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__known").isNull, 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy(idCol)
  }

  /** MinHash signatures: numHashes column mins per document in ONE
    * shuffle — one aggregate with numHashes min() expressions over the
    * shingle postings (no numHashes× row blowup). The hash family is
    * derived arithmetically from a single md5 per shingle
    * (h_i = (h*(2i+1) + 1000003*i) mod 2^31-1, pairwise-shifted odd
    * multipliers), so the md5 cost is paid once, not numHashes times.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame =
    signaturesFromShingles(shingles(df, idCol, textCol, n), idCol, numHashes)

  private def signaturesFromShingles(sh: DataFrame, idCol: String,
                                     numHashes: Int): DataFrame = {
    val hashed = sh.withColumn("h31", h60(col("shingle")) % 2147483648L)
    val mins = (0 until numHashes).map(i =>
      min((col("h31") * (2 * i + 1) + lit(1000003L * i)) % 2147483647L)
        .as(s"mh$i"))
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** One (id, band, bsig) row per signature band — a single explode over
    * the aggregated signatures, NOT a bands-way union (which would
    * recompute the numHashes-min aggregate once per band).
    */
  private def bandRows(sig: DataFrame, idCol: String, numHashes: Int,
                       bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), concat_ws(",",
        (b * r until (b + 1) * r).map(i => col(s"mh$i")): _*).as("bsig"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"), col("e.bsig").as("bsig"))
  }

  /** MinHash + LSH near-dup pairs: band the signature (bands × rowsPerBand =
    * numHashes), bucket on the banded sub-signature, equi-join within
    * buckets for candidates, then exact-Jaccard verify. The only joins are
    * hash-equi-joins on band buckets — no cross join at any scale.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, numHashes: Int, bands: Int,
                      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // one materialized posting list feeds BOTH the signature aggregate and
    // the exact-verify phase — the corpus is shingled once, not twice
    val shAll = shingles(df, idCol, textCol, n).localCheckpoint()
    val sig = signaturesFromShingles(shAll, idCol, numHashes)
    val bandRows = this.bandRows(sig, idCol, numHashes, bands)
    val cand = bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_i"), col(s"b.$idCol").as("id_j"))
      .distinct()
    // exact-Jaccard verify restricted to the candidate pairs: first
    // semi-join the shingle postings down to docs that appear in ANY
    // candidate pair (at corpus scale candidates are a vanishing fraction,
    // so this cuts the re-shingle + intersection join by orders of
    // magnitude), then expand each pair by the left doc's shingles and
    // equi-join (id_j, shingle) to count the intersection
    val candIds = cand.select(col("id_i").as(idCol))
      .union(cand.select(col("id_j").as(idCol))).distinct()
    val sh = shAll.join(candIds, Seq(idCol), "left_semi")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.withColumnRenamed(idCol, "id_i"), "id_i")
      .join(sh.withColumnRenamed(idCol, "id_j"), Seq("id_j", "shingle"))
      .groupBy("id_i", "id_j").agg(count(lit(1)).as("n_common"))
    jaccardPairs(common, sizes, idCol, threshold)
  }

  /** Incremental near-dup against a persisted MinHash signature index —
    * the daily-ingest pattern at 100 TB: the corpus's signatures live as
    * a parquet parameter table ([[minhashSignatures]] →
    * [[Models.saveModel]]; numHashes longs per document, ~0.3% of a
    * 100 KB doc), and each new batch is screened WITHOUT re-shingling or
    * re-signing the corpus. Candidates come from the same band
    * equi-join as [[minhashLshPairs]] (new-batch bands × index bands);
    * verification uses the signature-estimated Jaccard — the fraction of
    * agreeing minhash components, the standard unbiased estimator — so
    * the index alone suffices (no corpus text access at all).
    * Deterministic and engine-reproducible: the DuckDB oracle rebuilds
    * both sides' signatures and the same estimate.
    *
    * Returns (id_new, id_index, est_jaccard) with est ≥ `minEstJaccard`,
    * ordered. est granularity is 1/numHashes — thresholds should sit
    * between multiples (e.g. 0.75 with 32 hashes ⇒ ≥ 24 agreements).
    */
  def minhashLshPairsAgainstIndex(newDocs: DataFrame, index: DataFrame,
                                  idCol: String, textCol: String, n: Int,
                                  numHashes: Int, bands: Int,
                                  minEstJaccard: Double): DataFrame = {
    // NOT checkpointed: the two consumers (banding, estimate join) pay the
    // signature aggregate twice, but a checkpoint here would leak one
    // persisted RDD per call — fatal for the foreachBatch streaming twin,
    // which screens every micro-batch and has no handle to unpersist. The
    // double-compute is over the NEW BATCH only (small by definition on
    // the incremental path), never the corpus.
    val newSig = minhashSignatures(newDocs, idCol, textCol, n, numHashes)
    val nb = bandRows(newSig, idCol, numHashes, bands)
      .withColumnRenamed(idCol, "id_new")
    val ib = bandRows(index, idCol, numHashes, bands)
      .withColumnRenamed(idCol, "id_index")
    val cand = nb.join(ib, Seq("band", "bsig"))
      .filter(col("id_new") =!= col("id_index"))
      .select(col("id_new"), col("id_index"))
      .distinct()
    val agree = (0 until numHashes)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(newSig.as("a"), cand("id_new") === col(s"a.$idCol"))
      .join(index.as("b"), cand("id_index") === col(s"b.$idCol"))
      .withColumn("est_jaccard",
        round(agree.cast("double") / numHashes, 6))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_new"), col("id_index"), col("est_jaccard"))
      .orderBy("id_new", "id_index")
  }

  /** MERGE a new batch into a persisted MinHash signature index — the
    * refresh op of the near-dup screen's lifecycle
    * ([[substringSpanStateMerge]]'s sibling at signature granularity):
    * the batch is shingled and signed ONCE, re-crawled ids REPLACE
    * their stale rows (a signature is a pure per-doc function of the
    * text, so the fresh crawl's row is the correct one — one id-keyed
    * anti-join evicts the old rows), and genuinely new ids append. The
    * corpus is never re-shingled and the index never rebuilt:
    * merge(index(a), b) ≡ minhashSignatures(a∖ids(b) ∪ b) bit-for-bit
    * (DedupSpec proves it over a mixed new + re-crawl batch).
    *
    * Scale shape: signature aggregate over the BATCH only (one
    * shuffle), one broadcast-able anti-join on the id, a union — the
    * index is touched as a scan, never as a shuffle side.
    */
  def minhashIndexMerge(index: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame = {
    val batchSig = minhashSignatures(batch, idCol, textCol, n, numHashes)
    index
      .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(batchSig)
  }

  /** SimHash signatures: 60-bit, token-frequency weighted. Per bit: sum
    * of ±weight by the token hash's bit value; bit set iff the sum is
    * positive. The 60 per-bit sums are WIDE aggregate expressions over
    * the (doc, token, weight) frame — one codegen'd shuffle keyed on the
    * doc id (same pattern as the MinHash 32-min aggregate). The explode
    * spelling (a (doc, token) × 60 bit rows blowup) shuffled 60× the
    * rows for identical integer math: measured 2.0s → 0.9s at sf0.1.
    */
  def simhashSignatures(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val bits = 60
    val tokCounts = Par.ensure(df)
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("w"))
      .withColumn("th", h60(col("tok")))
    val bitSums = (0 until bits).map(i =>
      sum(col("w") * (shiftright(col("th"), i).bitwiseAND(lit(1L)) * 2 - 1))
        .as(s"s$i"))
    tokCounts
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: hamming(sig_i, sig_j) <= maxHamming.
    * Candidate generation here is a block-join on the top signature byte
    * union exact-prefix buckets would be the full at-scale path; for parity
    * we join on a 4-chunk band of the signature (any equal 15-bit chunk ⇒
    * candidate — guarantees recall for maxHamming <= 3 by pigeonhole) and
    * verify with bit_count(xor).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk pigeonhole banding guarantees recall only for hamming <= 3")
    // NOTE: no checkpoint here — the two self-join sides are identical
    // subplans, so Catalyst's ReusedExchange already computes the
    // signatures once (measured: a localCheckpoint is net slower)
    val sig = simhashSignatures(df, idCol, textCol)
    val chunks = sig.select(col(idCol), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("shiftright(simhash, c * 15) & 32767"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_i"), col(s"b.$idCol").as("id_j"),
        col("a.simhash").as("sig_i"), col("b.simhash").as("sig_j"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(sig_i ^ sig_j)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_i"), col("id_j"), col("hamming"))
      .orderBy("id_i", "id_j")
  }

  /** Embedding cosine near-dup pairs (i < j, cos >= threshold), brute-force
    * pair join. RECALL REFERENCE ONLY — not on the gated query surface:
    * the pair join has no equi-key, so this is O(n²)
    * (BroadcastNestedLoopJoin) and dies at corpus scale. DedupSpec uses it
    * to prove [[embeddingCosinePairsLsh]] ⊆ exact; every gated embedding
    * near-dup query runs the LSH plan (PlanSpec's fleet audit rejects any
    * gated plan containing a non-broadcast nested-loop or cartesian join).
    *
    * The per-pair kernel is the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression over the RAW float
    * arrays — one fused loop for dot + both norms. Measured against the
    * alternatives on the 2M-pair sf0.1 join: HOF fold 27s, per-dimension
    * flat columns 5s, this expression 1.2s. Requires the session to carry
    * [[graft.GraftExtensions]].
    */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val e = Par.ensure(emb)
    e.as("a").join(e.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cos", expr(s"cosine_sim(a.$vecCol, b.$vecCol)"))
      .filter(col("cos") >= threshold)
      .select(col(s"a.$idCol").as("id_i"), col(s"b.$idCol").as("id_j"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("id_i", "id_j")
  }

  /** Embedding cosine near-dup pairs via LSH bucketing — the 100 TB path
    * for [[embeddingCosinePairs]]: candidates are pairs sharing any
    * (table, bucket) under [[Similarity.lshBuckets]]' random-hyperplane
    * signatures, verified with the native cosine kernel. Every join is a
    * hash-equi-join (bucket match, then id lookups) — no
    * BroadcastNestedLoopJoin / cartesian anywhere in the plan (PlanSpec
    * asserts). Approximate by construction: recall is the standard
    * 1-(1-p^planes)^tables curve; raise `tables` for recall, `planes` for
    * smaller buckets. The DuckDB oracle reproduces the md5-derived planes
    * bit-identically, so the result is exactly checkable despite the
    * approximation.
    */
  def embeddingCosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, tables: Int = 8,
                              planes: Int = 6): DataFrame = {
    // both candidate-join sides are the same subplan — ReusedExchange
    // computes the buckets once, no materialization needed
    val buckets = Similarity.lshBuckets(emb, idCol, vecCol, tables, planes)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_i"), col(s"b.$idCol").as("id_j"))
      .distinct()
    val u = emb.select(col(idCol), col(vecCol))
    cand
      .join(u.toDF("id_i", "__vi"), "id_i")
      .join(u.toDF("id_j", "__vj"), "id_j")
      .withColumn("cos", expr("cosine_sim(__vi, __vj)"))
      .filter(col("cos") >= threshold)
      .select(col("id_i"), col("id_j"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("id_i", "id_j")
  }

  /** [[embeddingCosinePairsLsh]] with the plane count sized to the CORPUS:
    * planes = max(minPlanes, ceil(log2(n / targetPerBucket))) — enough
    * sign bits that expected bucket occupancy stays ~`targetPerBucket`
    * as n grows. This is the scale contract the fixed-plane form cannot
    * give: at fixed planes, occupancy grows linearly with n and
    * intra-bucket candidate pairs QUADRATICALLY (the round-8 sf1 scaling
    * run measured exactly that, 18.9× work at 10× data); with log-scaled
    * planes the candidate volume tracks n·targetPerBucket ~ linearly.
    * The price is per-table recall at distance — callers hold recall by
    * raising `tables` (the standard LSH dial, SimilaritySpec's recall
    * floor documents it).
    *
    * Sizing costs ONE scalar count() job before planning (the same class
    * of statistics collection AQE does between stages; a 1-row driver
    * result, never data). The plane count is a deterministic pure
    * function of n — bitLength(ceil(n/target) − 1) — so the DuckDB
    * oracle replays the identical index from its own count.
    */
  def embeddingCosinePairsLshAuto(emb: DataFrame, idCol: String,
                                  vecCol: String, threshold: Double,
                                  tables: Int = 8, minPlanes: Int = 6,
                                  targetPerBucket: Int = 16): DataFrame =
    embeddingCosinePairsLsh(emb, idCol, vecCol, threshold, tables,
      autoPlanes(emb.count(), minPlanes, targetPerBucket))

  /** SEMANTIC decontamination — the embedding-space twin of
    * [[decontaminate]]'s n-gram screen: flag training vectors whose
    * cosine similarity to ANY eval-set vector reaches `threshold`,
    * reporting each flagged id's worst offender. Paraphrased or
    * re-worded test leakage defeats shingle overlap entirely; this
    * screen catches it where it survives — in the embedding.
    *
    * Scale shape: both sides bucket through the same md5 hyperplane
    * tables ([[Similarity.lshBuckets]]); candidates come from an
    * equi-join on (table, bucket) with the EVAL side broadcast (the
    * eval set is test-suite sized, never corpus sized), then the exact
    * cosine verify runs inside candidates only — the training corpus
    * is never all-paired. Deterministic end-to-end (md5 planes, total
    * (cos DESC, id) argmax order), so the gate hash-checks.
    */
  def decontaminateByEmbedding(train: DataFrame, evalSet: DataFrame,
                               idCol: String, vecCol: String,
                               threshold: Double, tables: Int = 8,
                               planes: Int = 6): DataFrame = {
    val tb = Similarity.lshBuckets(train, idCol, vecCol, tables, planes)
      .withColumnRenamed(idCol, "__tid")
    val eb = Similarity.lshBuckets(evalSet, idCol, vecCol, tables, planes)
      .withColumnRenamed(idCol, "__eid")
    val cand = tb.join(broadcast(eb), Seq("table", "bucket"))
      .select(col("__tid"), col("__eid")).distinct()
    val tv = train.select(col(idCol).as("__tid"), col(vecCol).as("__vt"))
    val ev = evalSet.select(col(idCol).as("__eid"), col(vecCol).as("__ve"))
    val w = Window.partitionBy(col("__tid"))
      .orderBy(col("__cos").desc, col("__eid"))
    cand.join(tv, "__tid").join(broadcast(ev), "__eid")
      .withColumn("__cos", expr("cosine_sim(__vt, __ve)"))
      .filter(col("__cos") >= threshold)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__tid").as(idCol), col("__eid").as("matched_eval_id"),
        round(col("__cos"), 6).as("cos_sim"))
      .orderBy(idCol)
  }

  /** ANN-grade hard-negative mining for contrastive training: for each
    * anchor, the MOST similar corpus vector that is NOT a near-duplicate
    * (cos < `dupThreshold`) — the just-below-the-dup-line neighbors that
    * make contrastive losses work, where random negatives are trivially
    * easy and duplicates would poison the label.
    * (`Curation.contrastiveNegativePairs` is the cheap md5-grid sampler;
    * this is the similarity-ranked upgrade.)
    *
    * Scale shape: candidates come from the same md5 hyperplane buckets
    * as every embedding screen here — a (table, bucket) self-equi-join,
    * never all-pairs; both orientations of each bucket pair survive
    * because every anchor ranks its OWN candidates. The exact cosine +
    * per-anchor (cos DESC, id) argmax run inside candidates only.
    * Deterministic end-to-end, so the gate hash-checks. Anchors whose
    * buckets hold only duplicates (or nothing) yield no row — the
    * honest answer; widen `tables` to deepen candidate coverage. At
    * corpus scale pass [[autoPlanes]]`(n, planes, targetPerBucket)` as
    * `planes` — fixed planes grow bucket occupancy with n (measured
    * 3.1× at 10× data; within the linear bar but drifting), the
    * count-sized plane count holds it flat, same as the near-dup path.
    */
  def hardNegativePairs(emb: DataFrame, idCol: String, vecCol: String,
                        dupThreshold: Double, tables: Int = 8,
                        planes: Int = 6): DataFrame = {
    val buckets = Similarity.lshBuckets(emb, idCol, vecCol, tables, planes)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__anchor"),
        col(s"b.$idCol").as("__neg"))
      .distinct()
    val u = emb.select(col(idCol), col(vecCol))
    val w = Window.partitionBy(col("__anchor"))
      .orderBy(col("__cos").desc, col("__neg"))
    cand
      .join(u.toDF("__anchor", "__va"), "__anchor")
      .join(u.toDF("__neg", "__vn"), "__neg")
      .withColumn("__cos", expr("cosine_sim(__va, __vn)"))
      .filter(col("__cos") < dupThreshold)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__anchor").as(idCol), col("__neg").as("negative_id"),
        round(col("__cos"), 6).as("cos_sim"))
      .orderBy(idCol)
  }

  /** Edit-distance near-dup pairs with prefix blocking: documents are
    * blocked on their first `blockTokens` whitespace tokens (the
    * [[Curation.prefixDupGroups]] key — near-identical docs share their
    * lede), and within a block every id-ordered pair is scored with
    * LEVENSHTEIN distance over the first `capChars` characters; pairs at
    * distance ≤ `maxDist` survive. This is the character-level screen
    * that catches single-typo/near-verbatim variants sitting BETWEEN exact
    * hashing (any edit breaks it) and shingle Jaccard (insensitive to
    * few-character edits by construction — which also means it cannot
    * RANK them; this op's distance is the rank).
    *
    * Scale shape: the block key is the only shuffle; pair fan-out is
    * bounded by block density like every banded screen here (the LSH
    * posture), never corpus². The levenshtein kernel is Spark's built-in
    * codegen'd expression; `capChars` bounds its O(len²) cost per pair.
    * Blocking is recall-lossy by design (an edit inside the first
    * `blockTokens` tokens moves the doc to another block) — the standard
    * multi-pass remedy is a second run blocked on a different region.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        blockTokens: Int, capChars: Int,
                        maxDist: Int): DataFrame = {
    require(blockTokens > 0 && capChars > 0 && maxDist >= 0,
      "editDistancePairs needs positive blockTokens/capChars, maxDist >= 0")
    val blocked = docs.select(col(idCol).as("__id"),
      substring(col(textCol), 1, capChars).as("__t"),
      concat_ws(" ", slice(split(col(textCol), " "), 1, blockTokens))
        .as("__b"))
    blocked.as("a").join(blocked.as("b"),
        col("a.__b") === col("b.__b") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_i"), col("b.__id").as("id_j"),
        levenshtein(col("a.__t"), col("b.__t")).as("edit_dist"))
      .where(col("edit_dist") <= maxDist)
      .orderBy("id_i", "id_j")
  }

  /** max(minPlanes, ceil(log2(ceil(n / targetPerBucket)))) via integer bit
    * arithmetic — float-free, so the ceil boundary at exact powers of two
    * cannot diverge from the oracle's log2-of-integer (exact in IEEE). */
  def autoPlanes(n: Long, minPlanes: Int, targetPerBucket: Int): Int = {
    val v = (n + targetPerBucket - 1) / targetPerBucket
    math.max(minPlanes,
      if (v <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(v - 1))
  }

  /** Connected components over near-dup pairs: assign every document that
    * appears in any pair its cluster id (the minimum doc id reachable
    * through the duplicate graph). This is the step that turns PAIRS into
    * an actionable dedup decision — transitivity matters (A≈B, B≈C puts A
    * and C in one cluster even when A and C never met a threshold), and
    * "keep the minimum id per cluster" is deterministic across engines.
    *
    * Algorithm: iterative min-label propagation over the CLOSED
    * neighbourhood. The edge list (both directions of every pair plus one
    * self loop per id, deduped by a `distinct`, so callers need not
    * dedup their pairs) is checkpointed once. Round r gives every node
    * the minimum round r−1 label over its closed neighbourhood: one
    * equi-join (edges × labels on `dst`) plus one groupBy(src), both
    * shuffle-keyed on the node id. The self-loop row carries the node's
    * own previous label, so the same aggregate emits it beside the new
    * one and a label can only fall. Round 1 joins nothing: labels start
    * as the ids, so its neighbour labels are the `dst` ids themselves.
    * Each round's labels are one eager `localCheckpoint`, whose job also
    * counts the labels that fell ([[Par.checkpointCounting]]); the loop
    * stops after the first round in which none fell. So a graph whose
    * labels settle in k − 1 rounds runs k rounds and k + 1 Spark actions
    * (the edge list's included), with no separate convergence probe.
    * Converges in O(diameter) rounds; duplicate clusters are near-cliques
    * (diameter ≤ 2-3 in practice), so the loop runs 2-4 rounds regardless
    * of corpus size. A round's label checkpoint is released as soon as
    * the next round's is materialized (and the edge list after the loop),
    * so executor block-manager memory holds at most two label frames
    * regardless of round count. `cluster_size` is a count over a window
    * partitioned by label, read off the last round's checkpoint. For
    * adversarial long-chain graphs (diameter ~ n), the O(log n)
    * large-star/small-star rewrite is the known upgrade
    * ([[dupClustersStar]]); not needed for dedup workloads, so we keep
    * the simpler invariant-preserving form.
    *
    * Returns (id, cluster_id, cluster_size) for every id in any pair,
    * ordered by id. Keeper = the row with id == cluster_id.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    require(maxIters >= 1, "dupClusters needs maxIters >= 1")
    val (i, j) = (col("id_i"), col("id_j"))
    val edges = Seq(i -> j, j -> i, i -> i, j -> j)
      .map { case (s, d) => pairs.select(s.as("src"), d.as("dst")) }
      .reduce(_ union _)
      .distinct()
      .localCheckpoint()
    // (src, dst, dlab) rows -> the round's (id, lab, old) checkpoint and
    // the number of labels that fell
    def round(nbrLabels: DataFrame): (DataFrame, Long) =
      Par.checkpointCounting(
        nbrLabels.groupBy(col("src").as("id"))
          .agg(min(col("dlab")).as("lab"),
            max(when(col("src") === col("dst"), col("dlab"))).as("old")),
        col("lab") < col("old"))
    var (labels, fell) = round(edges.withColumn("dlab", col("dst")))
    var it = 1
    while (fell > 0 && it < maxIters) {
      val (next, n) = round(edges.join(
        labels.select(col("id").as("dst"), col("lab").as("dlab")), "dst"))
      Par.unpersistCheckpoint(labels)
      labels = next
      fell = n
      it += 1
    }
    Par.unpersistCheckpoint(edges)
    IterStats.record("dupClusters", it)
    require(fell == 0, s"dupClusters did not converge in $maxIters rounds " +
      "— graph diameter exceeds the bound; raise maxIters")
    labels.select(col("id"), col("lab").as("cluster_id"),
        count(lit(1)).over(Window.partitionBy(col("lab")))
          .as("cluster_size"))
      .orderBy("id")
  }

  /** [[dupClusters]] with alternating large-star/small-star rounds — the
    * O(log n)-round connected-components algorithm for MapReduce-shaped
    * engines (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014), and the documented upgrade path when the
    * duplicate graph is NOT a near-clique: min-label propagation needs
    * O(diameter) rounds, so an adversarial chain of pairwise near-dups
    * (A≈B≈C≈…, diameter ~ n) stalls it, while the star rounds collapse
    * any shape in logarithmically many rounds. Same contract and output
    * as [[dupClusters]]; q_dup_clusters_star gates it against the
    * identical recursive-closure oracle.
    *
    * Each round is two star operations, each ONE groupBy plus ONE
    * equi-join keyed on the node id — no new shuffle shapes:
    *  - large-star: every neighbor v > u re-attaches to
    *    m(u) = min(N(u) ∪ {u});
    *  - small-star: every neighbor v < u (and u itself) attaches to
    *    min(N&lt;(u) ∪ {u}).
    * All emitted edges are canonical (u > v), so the fixed point — the
    * edge set stops changing — is exactly the star graph (member →
    * component-minimum root). Set equality is checked as |next| = |cur|
    * plus an empty one-sided except over the two checkpointed frames;
    * each edge count is taken by its frame's own checkpoint job
    * ([[Par.checkpointCounting]]), so a round runs one Spark action,
    * plus the except probe when the counts agree.
    */
  def dupClustersStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val mins = nbrs.groupBy("a").agg(min(col("b")).as("__mb"))
        .select(col("a"), least(col("__mb"), col("a")).as("m"))
      nbrs.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("a"),
        least(col("u"), col("v")).as("b"))
      val mins = or.groupBy("a").agg(min(col("b")).as("m"))
      or.join(mins, "a")
        .select(col("b").as("u"), col("m").as("v"))
        .union(mins.select(col("a").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var (edges, edgeCount) = Par.checkpointCounting(pairs
      .select(greatest(col("id_i"), col("id_j")).as("u"),
        least(col("id_i"), col("id_j")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), lit(true))
    var it = 0
    var converged = edgeCount == 0L
    while (!converged && it < maxIters) {
      val (next, nextCount) =
        Par.checkpointCounting(smallStar(largeStar(edges)), lit(true))
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      Par.unpersistCheckpoint(edges)
      edges = next
      edgeCount = nextCount
      it += 1
    }
    IterStats.record("dupClustersStar", it)
    require(converged, s"dupClustersStar did not converge in $maxIters " +
      "rounds — raise maxIters (bound is O(log^2 n) even adversarially)")
    // checkpoint the star labels BEFORE releasing the edge blocks — the
    // returned frame must not reference an unpersisted local checkpoint
    val labels = edges.select(col("u").as("id"), col("v").as("lab"))
      .union(edges.select(col("v").as("id"), col("v").as("lab")))
      .distinct()
      .localCheckpoint()
    Par.unpersistCheckpoint(edges)
    labels.groupBy(col("lab"))
      .agg(count(lit(1)).as("cluster_size"))
      .join(labels, "lab")
      .select(col("id"), col("lab").as("cluster_id"), col("cluster_size"))
      .orderBy("id")
  }

  /** Apply a [[dupClusters]] decision to the corpus: drop every clustered
    * document except its cluster's keeper (min id). One broadcast-sized
    * anti-join — the drop list has cluster_size-1 rows per cluster, a
    * vanishing fraction of the corpus, so AQE broadcasts it.
    */
  def resolveDuplicates(df: DataFrame, clusters: DataFrame,
                        idCol: String): DataFrame =
    df.join(
      clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Quality-based duplicate survivorship — [[resolveDuplicates]] keeps
    * an ARBITRARY representative (the min-id one); real curation keeps
    * the BEST one (longest, highest quality score, freshest crawl). Per
    * cluster the keeper is `max_by(id, (quality, -id))`: highest quality,
    * ties to the smallest id — a total rule, so the kept set is
    * deterministic and engine-reproducible. Docs outside any cluster are
    * untouched (they never reach the drop list).
    *
    * Scale shape: one equi-join of the cluster table to the (id, quality)
    * projection, the keeper as a `max_by` over a window partitioned by
    * cluster (one cluster-keyed shuffle, and the member join is planned
    * once), and the same broadcast-size anti-join as
    * [[resolveDuplicates]] — the drop list stays cluster_size−1 rows per
    * cluster.
    */
  def resolveDuplicatesByQuality(df: DataFrame, clusters: DataFrame,
                                 idCol: String,
                                 qualityCol: String): DataFrame = {
    val drop = df.select(col(idCol).as("id"), col(qualityCol).as("__q"))
      .join(clusters.select(col("id"), col("cluster_id")), Seq("id"))
      .withColumn("keeper",
        max_by(col("id"), struct(col("__q"), (-col("id")).as("__ni")))
          .over(Window.partitionBy(col("cluster_id"))))
      .filter(col("id") =!= col("keeper"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Repeated n-gram detection across documents — the stride-1
    * exact-substring dedup report ("Deduplicating Training Data Makes
    * Language Models Better"-style memorization risk, at n-gram
    * granularity): every token n-gram occurring in at least `minDocs`
    * DISTINCT documents, with the count and the first document carrying
    * it. Unlike chunk-aligned window dedup this catches repeats at ANY
    * offset (the shingle set is stride-1), and unlike the Jaccard pair
    * ops the output is per-GRAM, not per-pair — the artifact you feed a
    * redaction/excision pass. One explode and one groupBy whose shuffle
    * key is the md5 digest of the gram, not the gram text.
    */
  def repeatedNgrams(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minDocs: Long): DataFrame = {
    require(minDocs >= 2, "a gram repeated in fewer than 2 docs is noise")
    shingles(docs, idCol, textCol, n)
      .groupBy(md5(col("shingle")).as("gram_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy("gram_hash")
  }

  /** C4-style cross-document LINE dedup with document REWRITE — the one
    * dedup shape the flag/drop family above cannot express: instead of
    * dropping whole documents, remove duplicated SPANS (lines /
    * paragraphs, C4 §2.2's "three-sentence span" rule at line
    * granularity) everywhere but one canonical occurrence, and hand back
    * the cleaned remainder of every document. The reference's loader
    * dedups whole rows only (`/root/reference/etl/loader.py:36-57`);
    * boilerplate headers/footers/navigation chrome shared by thousands
    * of pages survive whole-doc dedup untouched — this is the pass that
    * excises them.
    *
    * Semantics (each choice is the published-pipeline convention):
    *  - spans are `delim`-separated lines; the DUP KEY is the md5 of the
    *    whitespace-collapsed lowercased trim (cosmetic variation doesn't
    *    protect boilerplate) while the ORIGINAL line text is what
    *    survives re-assembly;
    *  - a line is boilerplate iff its key occurs in >= `minDocs`
    *    DISTINCT documents (cross-doc evidence; a line repeated only
    *    within one document is rhetoric, not chrome, and is kept);
    *  - boilerplate keeps exactly ONE occurrence corpus-wide — the
    *    (min id, min position) one — so the information content is
    *    preserved once, as in C4 ("we discarded all but one");
    *  - empty/whitespace-only lines are structure, not content: always
    *    kept, never counted as duplicates.
    *
    * Output: one row per input document — the rewritten text (surviving
    * lines re-joined by `delim` in original position order) plus the
    * accounting every excision pass must publish: n_lines /
    * n_lines_kept / n_lines_removed (kept + removed = original, spec-
    * asserted) and n_chars_removed.
    *
    * Scale shape: one posexplode, one digest-keyed groupBy (the shuffle
    * carries 16-byte keys + (id,pos) pairs, never line text), one
    * digest equi-join back, and one id-keyed re-assembly whose
    * collect_list is bounded by a single document's line count — the
    * same per-doc bound every parser already assumes. No pair space,
    * no window over the corpus.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                delim: String = "\n", minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "cross-doc boilerplate needs minDocs >= 2")
    // NULL text is an absent payload, not an absent document: coalesce
    // to "" so the doc yields one empty (always-kept) line and a visible
    // zero-accounting row instead of vanishing through the inner join.
    val (base, lineRows) = splitLines(docs, idCol, textCol, delim)
    val lines = lineRows.withColumn("__key", md5(col("__norm")))
      .localCheckpoint()
    val stats = lines.where(col("__norm") =!= "")
      .groupBy(col("__key"))
      .agg(countDistinct(col(idCol)).as("__nd"),
        min(struct(col(idCol).as("id"), col("__pos").as("pos")))
          .as("__keep"))
      .where(col("__nd") >= minDocs)
    val kept = lines
      .join(stats, Seq("__key"), "left")
      .where(col("__nd").isNull ||
        (col(idCol) === col("__keep.id") &&
          col("__pos") === col("__keep.pos")))
    rebuildReport(base, lines, kept, idCol, textCol, delim)
  }

  /** The line frame of the line-level rewrites ([[lineDedup]],
    * [[Text.lineQualityRewrite]]): `base` is (id, text) with NULL text
    * read as "", and the second frame holds one row per
    * `delim`-separated line: its position `__pos`, the raw `__line` and
    * `__norm`, lower-cased with whitespace runs collapsed and trimmed.
    */
  private[ops] def splitLines(docs: DataFrame, idCol: String,
                              textCol: String, delim: String)
      : (DataFrame, DataFrame) = {
    val base = Par.ensure(docs)
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
    val lines = base
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(delim), -1)))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
      .withColumn("__norm",
        trim(regexp_replace(lower(col("__line")), "\\s+", " ")))
    (base, lines)
  }

  /** The rewrite report over [[splitLines]]' frames: the `kept` lines of
    * each document re-joined by `delim` in position order, with
    * n_lines / n_lines_kept / n_lines_removed and n_chars_removed.
    */
  private[ops] def rebuildReport(base: DataFrame, lines: DataFrame,
                                 kept: DataFrame, idCol: String,
                                 textCol: String,
                                 delim: String): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), delim).as("text_clean"))
    base
      .join(lines.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_lines")), Seq(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("n_lines") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"),
        (length(col(textCol)) -
          length(coalesce(col("text_clean"), lit(""))))
          .cast("long").as("n_chars_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(idCol)
  }

  /** Exact-substring (token-span) dedup with document REWRITE — the last
    * rung of the doc → line → span granularity ladder (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * [[lineDedup]] removes duplicated LINES, but verbatim passages that
    * cross line boundaries or live mid-line (license blurbs, quoted
    * boilerplate, syndicated sentences) survive it. This pass finds
    * every `k`-token span whose ROLLING FINGERPRINT
    * ([[graft.functions.RollingFingerprint]] — the bit-spec'd
    * `fold((acc,t) -> (acc*131 + md5_20(t)) % 2^40)` recurrence, a pure
    * integer chain any engine replays) occurs in >= `minDocs` distinct
    * documents, and excises the duplicated TOKENS everywhere but one
    * canonical occurrence.
    *
    * Semantics (each a published-pipeline convention):
    *  - tokens are the `split(text, " ", -1)` stream (empty tokens kept —
    *    the rolling-kernel contract), spans are every k-token window; a
    *    doc shorter than k tokens contributes no spans and passes through
    *    untouched (never-drop);
    *  - a span QUALIFIES when its fingerprint occurs in >= `minDocs`
    *    distinct docs; the KEEPER occurrence is the corpus-wide
    *    (min id, min pos) one, as in [[lineDedup]];
    *  - a token is REMOVED iff it is covered by at least one NON-keeper
    *    qualifying occurrence and NOT covered by any keeper occurrence in
    *    its own document (keeper protection: overlapping duplicated spans
    *    can never mutilate the one canonical copy, so every qualifying
    *    span's text survives somewhere — the information-preservation
    *    invariant C4 states as "we discarded all but one");
    *  - NULL text coalesces to "" (the lineDedup rule): one row per input
    *    document, always.
    *
    * Output: (id, n_tokens, n_tokens_kept, n_tokens_removed — kept +
    * removed = original, spec-asserted — n_chars_removed, text_clean with
    * surviving tokens re-joined by single spaces in original order; the
    * split/join round-trip is byte-exact when nothing is removed).
    *
    * Scale shape: the span pass is ONE per-row projection (the k-token
    * window string never leaves the row — the codegen'd kernel folds it
    * to an 8-byte long in the same select), so the span shuffle carries
    * (digest, id, pos) only; the dup-stats groupBy and the qualifying
    * equi-join are digest-keyed, the lineDedup discipline. The coverage
    * explode fans out k rows per QUALIFYING occurrence only — the cost is
    * proportional to the duplicated volume, which is exactly the text
    * being removed. Re-assembly is the per-doc-bounded collect_list. No
    * pair space, no corpus window.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2 && k <= 256, "substringDedup spans need 2 <= k <= 256")
    require(minDocs >= 2, "cross-doc evidence needs minDocs >= 2")
    val base = Par.ensure(docs)
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
    val toksed = base
      .select(col(idCol), col(textCol),
        split(col(textCol), " ", -1).as("__t"))
    val spans = toksed
      .select(col(idCol), posexplode(
        when(size(col("__t")) >= k,
          transform(sequence(lit(0), size(col("__t")) - k),
            i => call_function("rolling_fp",
              concat_ws(" ", slice(col("__t"), i + 1, lit(k))))))
          .otherwise(array().cast("array<bigint>"))))
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__h")
      .localCheckpoint()
    val stats = spans.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"),
        min(struct(col(idCol).as("id"), col("__pos").as("pos")))
          .as("__keep"))
      .where(col("__nd") >= minDocs)
    val occ = spans.join(stats, Seq("__h"))
      .select(col(idCol), col("__pos"),
        (col(idCol) === col("__keep.id") &&
          col("__pos") === col("__keep.pos")).as("__isKeep"))
    // per-token coverage of qualifying occurrences; a token survives if
    // ANY keeper occurrence covers it (protection beats removal)
    val removal = occ
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (k - 1)))
          .as("__ti"),
        col("__isKeep"))
      .groupBy(col(idCol), col("__ti"))
      .agg(max(when(col("__isKeep"), 1).otherwise(0)).as("__prot"))
      .where(col("__prot") === 0)
      .select(col(idCol), col("__ti"))
    val tokens = toksed.select(col(idCol), posexplode(col("__t")))
      .withColumnRenamed("pos", "__ti")
      .withColumnRenamed("col", "__tok")
    val rebuilt = tokens.join(removal, Seq(idCol, "__ti"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__ti"), col("__tok")))),
          s => s.getField("__tok")), " ").as("text_clean"))
    base
      .join(toksed.select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens")), Seq(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        col("n_tokens"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (col("n_tokens") - coalesce(col("n_tokens_kept"), lit(0L)))
          .as("n_tokens_removed"),
        (length(col(textCol)) -
          length(coalesce(col("text_clean"), lit(""))))
          .cast("long").as("n_chars_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(idCol)
  }

  /** Cross-source SPAN provenance — [[boilerplateSourceReport]]'s
    * sibling at [[substringDedup]]'s token-span granularity: which
    * source pairs share duplicated k-token spans (license blurbs
    * syndicated across archives, quoted passages, mirrored templates),
    * the read that tells a curation run WHERE its verbatim duplication
    * comes from before the rewrite excises it. A span digest qualifies
    * with >= `minDocs` distinct docs corpus-wide; a (source, source)
    * SELF row additionally needs >= 2 distinct docs within the source
    * (the boilerplateSourceReport rule).
    *
    * Scale shape: the same in-row rolling-fingerprint projection as
    * substringDedup (the shuffle carries 8-byte digests), one
    * (digest, source) groupBy, a digest-qualifying semi-join, then the
    * digest-equi self-join whose pair space is bounded by sources² per
    * digest. Output: (source_lo, source_hi, n_shared_spans), lo <= hi.
    */
  def substringSourceReport(docs: DataFrame, idCol: String,
                            textCol: String, sourceCol: String,
                            k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2 && k <= 256, "substringSourceReport needs 2 <= k <= 256")
    require(minDocs >= 2, "cross-doc evidence needs minDocs >= 2")
    val spans = Par.ensure(docs)
      .select(col(idCol), col(sourceCol).as("__src"),
        split(coalesce(col(textCol), lit("")), " ", -1).as("__t"))
      .select(col(idCol), col("__src"), explode(
        when(size(col("__t")) >= k,
          transform(sequence(lit(0), size(col("__t")) - k),
            i => call_function("rolling_fp",
              concat_ws(" ", slice(col("__t"), i + 1, lit(k))))))
          .otherwise(array().cast("array<bigint>"))).as("__h"))
    val ks = spans.groupBy(col("__h"), col("__src"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .localCheckpoint()
    val qual = ks.groupBy(col("__h"))
      .agg(sum(col("__nd")).as("__tot"))
      .where(col("__tot") >= minDocs)
      .select(col("__h"))
    val side = ks.join(qual, Seq("__h"), "left_semi")
    side.select(col("__h"), col("__src").as("source_lo"), col("__nd"))
      .join(side.select(col("__h"), col("__src").as("source_hi")),
        Seq("__h"))
      .where(col("source_lo") < col("source_hi") ||
        (col("source_lo") === col("source_hi") && col("__nd") >= 2))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy("source_lo", "source_hi")
  }

  /** Qualifying span-digest INDEX at [[substringDedup]]'s granularity —
    * the persisted parameter table an incremental ingest screens new
    * batches against (the [[minhashSignatures]]-index discipline for
    * verbatim spans): every k-token rolling fingerprint occurring in
    * >= `minDocs` distinct documents, with its document count. The
    * S11 parameter-table shape — publish once with `.write.parquet`,
    * reload per batch with `spark.read.parquet`; 8-byte digests only,
    * never text, so the index is tiny relative to the corpus and
    * broadcast-able for most real duplication profiles.
    *
    * Scale shape: the same ONE in-row rolling-fingerprint projection as
    * [[substringDedup]] (the k-token window never leaves the row), one
    * digest-keyed groupBy, a count filter. No pair space.
    */
  def substringSpanIndex(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2 && k <= 256, "substringSpanIndex needs 2 <= k <= 256")
    substringSpanIndexFromState(
      substringSpanState(docs, idCol, textCol, k), minDocs)
  }

  /** UN-thresholded span-digest aggregation STATE — (span_fp, n_docs)
    * for EVERY digest, including the sub-threshold ones a published
    * [[substringSpanIndex]] drops. This is the MERGEABLE artifact of
    * the span screen's lifecycle: per-digest distinct-doc counts are
    * additive across batches with disjoint doc ids, so an incremental
    * ingest persists the state, folds each new batch in with
    * [[substringSpanStateMerge]], and re-publishes the screen index
    * with [[substringSpanIndexFromState]] — the corpus is NEVER
    * re-fingerprinted AND the index is never rebuilt from scratch. The
    * sub-threshold rows are exactly what makes the merge EXACT: a
    * digest seen once yesterday and once in today's batch must qualify
    * after the merge, which a thresholded artifact cannot express
    * (spec-proven: merge ≡ rebuild, the mergeAggStates identity).
    *
    * Scale shape: identical to [[substringSpanIndex]] minus the filter
    * — one in-row fingerprint projection, one digest-keyed groupBy;
    * 8-byte digests only. State size is bounded by distinct spans, not
    * corpus rows.
    */
  def substringSpanState(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    require(k >= 2 && k <= 256, "substringSpanState needs 2 <= k <= 256")
    spanFps(docs, idCol, textCol, k)
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .select(col("__h").as("span_fp"), col("n_docs"))
  }

  /** MERGE a new batch into a persisted [[substringSpanState]] — the
    * refresh op of the span screen's index lifecycle: the batch is
    * fingerprinted once (in-row, the [[spanFpsCol]] kernel), its
    * per-digest counts union with the state, and one digest-keyed sum
    * recomputes n_docs on the merged set. CONTRACT: the batch's doc
    * ids are disjoint from every previously folded batch (append-only
    * ingest — re-crawled ids would double-count their spans; a
    * re-crawl epoch rebuilds instead). merge(state(a), b) ≡ state(a∪b)
    * bit-for-bit under that contract — DedupSpec proves it, including
    * the 1+1-occurrence digest a thresholded index would lose.
    */
  def substringSpanStateMerge(state: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 8): DataFrame =
    state.select(col("span_fp"), col("n_docs").cast("long"))
      .unionByName(substringSpanState(batch, idCol, textCol, k))
      .groupBy(col("span_fp"))
      .agg(sum(col("n_docs")).as("n_docs"))

  /** Publish the qualifying screen index from a [[substringSpanState]]
    * (persisted or just merged): threshold + the
    * [[substringSpanIndex]] presentation order. `state` rows are
    * digest-unique by construction; the filter is the only work.
    */
  def substringSpanIndexFromState(state: DataFrame,
                                  minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "cross-doc evidence needs minDocs >= 2")
    state
      .where(col("n_docs") >= minDocs)
      .select(col("span_fp"), col("n_docs").cast("long").as("n_docs"))
      .orderBy("span_fp")
  }

  /** The in-row ARRAY of rolling k-token span fingerprints for `text`
    * — the shared kernel expression behind [[substringDedup]]'s family
    * (and the streaming span-hit monitor): each k-token window string
    * folds to an 8-byte long inside the same projection, so only
    * digests ever leave the row. Shorter-than-k texts yield an empty
    * array (no span evidence); NULL coalesces to "".
    */
  def spanFpsCol(text: Column, k: Int): Column = {
    val t = split(coalesce(text, lit("")), " ", -1)
    when(size(t) >= k,
      transform(sequence(lit(0), size(t) - k),
        i => call_function("rolling_fp",
          concat_ws(" ", slice(t, i + 1, lit(k))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** (id, __pos, __h) rolling k-token span fingerprints — the
    * [[spanFpsCol]] kernel posexploded per document.
    */
  private def spanFps(docs: DataFrame, idCol: String,
                      textCol: String, k: Int): DataFrame =
    Par.ensure(docs)
      .select(col(idCol), posexplode(spanFpsCol(col(textCol), k)))
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__h")

  /** Incremental exact-substring screen: fingerprint an incoming batch
    * in-row and flag every k-token span whose digest exists in a
    * persisted [[substringSpanIndex]] — the live crawler-loop alarm for
    * VERBATIM spans (the [[minhashLshPairsAgainstIndex]] discipline at
    * span granularity: the corpus is NEVER re-fingerprinted; each batch
    * pays one projection + one digest equi-join against the parameter
    * table). Output per flagged doc: n_tokens, n_spans, n_hit_spans,
    * n_flagged_tokens (tokens covered by >= 1 hit span — an exact
    * union-of-intervals via the per-doc lag window, Σ min(k, pos −
    * prev_pos), never a per-token explode), flag_rate. Docs with zero
    * hits yield no row — the honest screen answer; LEFT-join back to
    * the batch when a full roster is needed.
    *
    * NOT checkpointed — the foreachBatch streaming twin
    * ([[graft.streaming.Streams.streamingSubstringScreen]]) screens
    * every micro-batch and has no handle to unpersist; `index` MUST be
    * a materialized parameter table (a parquet read or a persisted
    * frame), exactly as the minhash index screen's contract states.
    */
  def substringScreenAgainstIndex(newDocs: DataFrame, index: DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int = 8): DataFrame = {
    require(k >= 2 && k <= 256,
      "substringScreenAgainstIndex needs 2 <= k <= 256")
    import org.apache.spark.sql.expressions.Window
    val spans = spanFps(newDocs, idCol, textCol, k)
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"))
    val toks = Par.ensure(newDocs)
      .select(col(idCol),
        size(split(coalesce(col(textCol), lit("")), " ", -1))
          .cast("long").as("n_tokens"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val hits = spans
      .join(index.select(col("span_fp").as("__h")), Seq("__h"), "left_semi")
      .withColumn("__cov",
        least(lit(k.toLong),
          coalesce(col("__pos") - lag(col("__pos"), 1).over(w),
            lit(k.toLong))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_spans"),
        sum(col("__cov")).as("n_flagged_tokens"))
    hits
      .join(perDoc, Seq(idCol))
      .join(toks, Seq(idCol))
      .select(col(idCol), col("n_tokens"), col("n_spans"),
        col("n_hit_spans"), col("n_flagged_tokens"),
        round(col("n_flagged_tokens").cast("double") /
          col("n_tokens"), 6).as("flag_rate"))
      .orderBy(idCol)
  }

  /** Multi-width span-duplication LADDER — the longest-match-ish read
    * the fixed-k screen can't give: for each rung k in `ks` (ascending,
    * e.g. 8/16/32), every k-token rolling fingerprint qualifying with
    * ≥ `minDocs` distinct docs AT THAT WIDTH, reported per document as
    * exact interval-union token coverage (the
    * [[substringScreenAgainstIndex]] lag-window union per rung). A doc
    * whose coverage persists up the ladder carries LONG verbatim runs
    * (licenses, mirrored articles); coverage that dies after k=8 is
    * short-phrase duplication. Coverage is monotone non-increasing in k
    * (every sub-window of a duplicated wide span is itself duplicated),
    * so the rung profile reads as a survival curve — and a cross-rung
    * union column would be exactly the smallest rung's coverage (same
    * argument), which is why the ladder reports per-rung rows instead.
    *
    * Scale shape: ONE tokenize + ONE flattened explode emits every
    * rung's (k, pos, digest) triples in a single corpus pass (the
    * k-token window string still never leaves the row); one
    * (k, digest)-keyed stats groupBy, one semi-join, one per-(doc, k)
    * lag window. Span volume is Σ_k (n_tokens − k + 1) ≈ |ks| × corpus
    * tokens — linear, no pair space. Output: (id, k, n_tokens,
    * n_hit_spans, n_covered_tokens, coverage_rate) for rungs with ≥ 1
    * hit, ordered (id, k) — the screen-family contract (zero-hit rungs
    * yield no row).
    */
  def substringLadder(docs: DataFrame, idCol: String, textCol: String,
                      ks: Seq[Int] = Seq(8, 16, 32),
                      minDocs: Int = 2): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct.size == ks.size,
      "substringLadder rungs must be strictly increasing")
    require(ks.forall(k => k >= 2 && k <= 256),
      "substringLadder rungs need 2 <= k <= 256")
    require(minDocs >= 2, "cross-doc evidence needs minDocs >= 2")
    import org.apache.spark.sql.expressions.Window
    val base = Par.ensure(docs)
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), " ", -1).as("__t"))
    val spans = base
      .select(col(idCol),
        explode(ladderFpsOf(col("__t"), ks)).as("__s"))
      .select(col(idCol), col("__s.k").as("__k"),
        col("__s.pos").as("__pos"), col("__s.h").as("__h"))
      .localCheckpoint()
    val qual = spans.groupBy(col("__k"), col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__k"), col("__h"))
    val w = Window.partitionBy(col(idCol), col("__k")).orderBy(col("__pos"))
    val hits = spans.join(qual, Seq("__k", "__h"), "left_semi")
      .withColumn("__cov",
        least(col("__k").cast("long"),
          coalesce((col("__pos") - lag(col("__pos"), 1).over(w))
            .cast("long"), col("__k").cast("long"))))
      .groupBy(col(idCol), col("__k"))
      .agg(count(lit(1)).as("n_hit_spans"),
        sum(col("__cov")).as("n_covered_tokens"))
    hits
      .join(base.select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens")), Seq(idCol))
      .select(col(idCol), col("__k").as("k"), col("n_tokens"),
        col("n_hit_spans"), col("n_covered_tokens"),
        round(col("n_covered_tokens").cast("double") /
          col("n_tokens"), 6).as("coverage_rate"))
      .orderBy(idCol, "k")
  }

  /** The in-row multi-rung span-fingerprint array over a pre-split
    * token column: one struct (k, pos, h) per rung window — the shared
    * kernel expression behind [[substringLadder]],
    * [[substringLadderIndex]] and the streaming ladder monitor. Every
    * rung's windows come out of ONE projection over one token split.
    */
  private def ladderFpsOf(toks: Column, ks: Seq[Int]): Column = {
    def rungFps(k: Int): Column =
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => struct(lit(k).as("k"), i.as("pos"),
            call_function("rolling_fp",
              concat_ws(" ", slice(toks, i + 1, lit(k)))).as("h"))))
        .otherwise(array().cast("array<struct<k:int,pos:int,h:bigint>>"))
    flatten(array(ks.map(rungFps): _*))
  }

  /** [[ladderFpsOf]] over a raw text column (NULL coalesces to "", the
    * [[spanFpsCol]] rule) — the form the streaming twin consumes. */
  private[graft] def ladderFpsCol(text: Column, ks: Seq[Int]): Column =
    ladderFpsOf(split(coalesce(text, lit("")), " ", -1), ks)

  /** Qualifying PER-RUNG span-digest index — [[substringSpanIndex]] at
    * every [[substringLadder]] width in one corpus pass: (k, span_fp,
    * n_docs) for each rung digest occurring in ≥ `minDocs` distinct
    * docs at that width. The published parameter table behind the
    * streaming ladder monitor
    * ([[graft.streaming.Streams.windowedSpanLadderMix]]); the S11
    * publish/reload shape, 8-byte digests only.
    *
    * Scale shape: ONE tokenize + one flattened explode (the
    * [[substringLadder]] pass), one (k, digest)-keyed groupBy with a
    * count filter. No pair space.
    */
  def substringLadderIndex(docs: DataFrame, idCol: String,
                           textCol: String,
                           ks: Seq[Int] = Seq(8, 16, 32),
                           minDocs: Int = 2): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct.size == ks.size,
      "substringLadderIndex rungs must be strictly increasing")
    require(ks.forall(k => k >= 2 && k <= 256),
      "substringLadderIndex rungs need 2 <= k <= 256")
    require(minDocs >= 2, "cross-doc evidence needs minDocs >= 2")
    Par.ensure(docs)
      .select(col(idCol),
        explode(ladderFpsCol(col(textCol), ks)).as("__s"))
      .select(col(idCol), col("__s.k").as("k"), col("__s.h").as("__h"))
      .groupBy(col("k"), col("__h"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("k"), col("__h").as("span_fp"), col("n_docs"))
      .orderBy("k", "span_fp")
  }

  /** Cross-source BOILERPLATE report — [[dupSourceReport]]'s line-level
    * sibling over [[lineDedup]]'s dup keys: which source pairs share
    * duplicated lines (syndication chrome, mirrored footers, scraped
    * templates), the provenance read that tells a curation run WHERE
    * its boilerplate comes from before it excises it. A line key
    * qualifies when it occurs in >= `minDocs` distinct docs
    * corpus-wide; a (source, source) SELF row additionally requires
    * >= 2 distinct docs within that source (a qualified key merely
    * present once per source is cross-source evidence, not
    * within-source boilerplate).
    *
    * Scale shape: one posexplode + one (key, source) groupBy, a
    * key-qualifying semi-join, then the key-equi self-join whose pair
    * space is bounded by sources² per key — the dupSourceReport bound.
    * Output: (source_lo, source_hi, n_shared_lines), lo <= hi.
    */
  def boilerplateSourceReport(docs: DataFrame, idCol: String,
                              textCol: String, sourceCol: String,
                              delim: String = "\n",
                              minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "cross-doc boilerplate needs minDocs >= 2")
    val lines = Par.ensure(docs)
      .select(col(idCol), col(sourceCol).as("__src"), explode(
        split(col(textCol), java.util.regex.Pattern.quote(delim), -1))
        .as("__line"))
      .withColumn("__norm",
        trim(regexp_replace(lower(col("__line")), "\\s+", " ")))
      .where(col("__norm") =!= "")
      .select(col(idCol), col("__src"), md5(col("__norm")).as("__key"))
    val ks = lines.groupBy(col("__key"), col("__src"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .localCheckpoint()
    val qual = ks.groupBy(col("__key"))
      .agg(sum(col("__nd")).as("__tot"))
      .where(col("__tot") >= minDocs)
      .select(col("__key"))
    val side = ks.join(qual, Seq("__key"), "left_semi")
    side.select(col("__key"), col("__src").as("source_lo"),
        col("__nd"))
      .join(side.select(col("__key"), col("__src").as("source_hi")),
        Seq("__key"))
      .where(col("source_lo") < col("source_hi") ||
        (col("source_lo") === col("source_hi") && col("__nd") >= 2))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_shared_lines"))
      .orderBy("source_lo", "source_hi")
  }

  /** Cross-source duplication report — the governance dashboard over any
    * near-dup pair set: how many duplicate pairs link each (source,
    * source) combination, with the mean similarity. Pairs are attributed
    * by joining both endpoints back to the corpus metadata (two
    * broadcast-or-shuffle equi-joins on the id) and the source pair is
    * canonicalized (lo ≤ hi) so A↔B and B↔A accumulate together. At
    * corpus scale the pair set is a vanishing fraction of the corpus, so
    * this is metadata-join work, never a second pair generation.
    */
  def dupSourceReport(pairs: DataFrame, docs: DataFrame, idCol: String,
                      sourceCol: String): DataFrame = {
    val meta = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(meta.withColumnRenamed(idCol, "id_i")
        .withColumnRenamed(sourceCol, "__si"), "id_i")
      .join(meta.withColumnRenamed(idCol, "id_j")
        .withColumnRenamed(sourceCol, "__sj"), "id_j")
      .select(least(col("__si"), col("__sj")).as("source_lo"),
        greatest(col("__si"), col("__sj")).as("source_hi"),
        col("jaccard"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"))
      .orderBy("source_lo", "source_hi")
  }

  /** Train/test decontamination: flag training documents sharing any
    * token n-gram with the eval set — the hygiene pass every pre-training
    * corpus runs so benchmarks aren't memorized. One shingle equi-join:
    * explode both sides to distinct n-gram postings, semi-join train
    * postings against the (much smaller) eval shingle set, count hits per
    * train doc. No pair blowup — the join carries (shingle, train_id)
    * hits only, and the eval side is typically broadcast-sized.
    * Returns (id, n_shared) for contaminated train docs; anti-join the
    * ids to clean, or keep the counts for audit.
    */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val testSh = shingles(test, idCol, textCol, n)
      .select("shingle").distinct()
    shingles(train, idCol, textCol, n)
      .join(testSh, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(idCol)
  }

  /** Multi-n decontamination report — the standard eval-leakage table
    * (the WMDP/GPT-4-report shape): sweep shingle sizes n ∈ `ns` and
    * report, PER EVAL DOC and per n, the worst-overlapping training
    * document — short n catches paraphrase-adjacent reuse, long n only
    * verbatim spans, and the n-profile of a leak (flags at 8 and 13 but
    * not 20 ⇒ a ~13-token copied span) localizes it. A single-n screen
    * ([[decontaminate]]) answers "is my train set dirty"; this answers
    * "which benchmark items leak, how badly, and from where".
    *
    * Output: (n, eval_id, n_shingles, worst_train_id, n_shared,
    * overlap_frac) — one row per (n, eval doc) INCLUDING clean docs
    * (0 / NULL), because a contamination table that omits clean items
    * can't prove coverage. overlap_frac = n_shared / the eval doc's
    * distinct-shingle count (a containment fraction).
    *
    * Scale shape: per n, one train-side shingle pass equi-joined on the
    * shingle against the BROADCAST eval posting set (the eval side is
    * benchmark-sized, never corpus-sized), an (eval, train)-keyed count
    * bounded by actual collisions, and an eval-partitioned argmax — the
    * [[decontaminate]] join repeated |ns| times, never a pair blowup.
    */
  def decontaminateMulti(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String,
                         ns: Seq[Int] = Seq(8, 13, 20)): DataFrame = {
    require(ns.nonEmpty && ns.size <= 8 && ns.forall(_ >= 2) &&
      ns.distinct.size == ns.size,
      "decontaminateMulti sweeps 1..8 distinct shingle sizes >= 2")
    val per = ns.map { n =>
      val esh = shingles(test, idCol, textCol, n)
        .select(col(idCol).as("eval_id"), col("shingle"))
      val sizes = esh.groupBy("eval_id")
        .agg(count(lit(1)).as("n_shingles"))
      val hits = shingles(train, idCol, textCol, n)
        .select(col(idCol).as("__tid"), col("shingle"))
        .join(broadcast(esh), Seq("shingle"))
        .groupBy(col("eval_id"), col("__tid"))
        .agg(count(lit(1)).as("n_shared"))
      val w = Window.partitionBy("eval_id")
        .orderBy(col("n_shared").desc, col("__tid"))
      val worst = hits.withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1)
        .select(col("eval_id"), col("__tid").as("worst_train_id"),
          col("n_shared"))
      sizes.join(worst, Seq("eval_id"), "left")
        .select(lit(n).as("n"), col("eval_id"), col("n_shingles"),
          col("worst_train_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          round(coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_shingles"), 6).as("overlap_frac"))
    }
    per.reduce(_ unionAll _).orderBy("n", "eval_id")
  }

  /** Peek the embedding dimensionality from the first row (one tiny
    * driver-side job at plan time; the column is fixed-width per table).
    */
  private[ops] def vecDims(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol))).head.getInt(0)
}
