package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between two corpus snapshots — the
  * monitoring layer a batch-over-batch training pipeline runs before
  * trusting a new crawl/extract (the engine-native extension of the
  * reference's monitoring surface, `streamlit/etl_logs.py`, which tracks
  * operational drift — error rates over time — but has no statistical
  * test; the reference's EDA does eyeball distribution shift via the
  * year-over-year frames, `streamlit/weather_analysis.py:190-209`).
  *
  * Two tests with different scale postures:
  *
  *  - [[psiDrift]] — Population Stability Index over FIXED bins. The
  *    100 TB path: one groupBy per side keyed on the bin id, k-row
  *    arithmetic after; no global window anywhere, shuffle width = k.
  *  - [[ksDrift]] — exact two-sample Kolmogorov–Smirnov statistic over
  *    the pooled DISTINCT values. Exact, but its cumulative window is
  *    single-partition — bounded by the distinct-value domain (fine for
  *    rounded/discretized measures; for raw continuous data at scale,
  *    round first or use PSI).
  */
object Drift {

  /** PSI over `bins` equal-width bins spanning [lo, hi) (outliers clamp
    * to the end bins; the clamp runs on the long bin index BEFORE the
    * int cast so a garbage extreme can't overflow an ANSI cast, and NULL
    * measures are EXCLUDED — a null is a missing measurement, not a
    * minimal one). Per-bin proportions are Laplace-smoothed with the
    * dyadic 0.5 — (c + 0.5)/(n + 0.5·bins) — so empty bins stay finite
    * AND the smoothed ratios are float-exact cross-engine. Returns one
    * row per bin (counts, smoothed proportions, per-bin contribution)
    * plus the contributions summed into `psi` on every row via a k-row
    * window — the usual read is `max(psi)` with the per-bin breakdown
    * attached. PSI = Σ (pa − pb)·ln(pa/pb).
    */
  def psiDrift(a: DataFrame, b: DataFrame, valCol: String,
               lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "psiDrift needs bins > 0 and hi > lo")
    binTotal(smoothedBins(a, b, valCol, lo, hi, bins)
      .withColumn("contrib",
        (col("p_a") - col("p_b")) * log(col("p_a") / col("p_b"))), "psi")
  }

  /** The histogram frame [[psiDrift]] and [[jsDivergence]] share: one
    * row per bin with the counts c_a and c_b and the Laplace-smoothed
    * proportions p_a and p_b.
    */
  private def smoothedBins(a: DataFrame, b: DataFrame, valCol: String,
                           lo: Double, hi: Double, bins: Int): DataFrame = {
    def binned(df: DataFrame, side: String): DataFrame =
      df.filter(col(valCol).isNotNull)
        .select(least(greatest(
          floor((col(valCol).cast("double") - lit(lo))
            / lit((hi - lo) / bins)), lit(0L)), lit(bins - 1L))
          .cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(s"c_$side"))
    val spark = a.sparkSession
    import spark.implicits._
    val allBins = (0 until bins).toDF("bin")
    val joined = broadcast(allBins)
      .join(binned(a, "a"), Seq("bin"), "left")
      .join(binned(b, "b"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val tot = joined.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val half = lit(0.5)
    joined.crossJoin(broadcast(tot))
      .withColumn("p_a",
        (col("c_a") + half) / (col("n_a") + half * bins))
      .withColumn("p_b",
        (col("c_b") + half) / (col("n_b") + half * bins))
  }

  /** The per-bin report over [[smoothedBins]] plus a `contrib` column,
    * with the contributions summed into `stat` on every row.
    */
  private def binTotal(withContrib: DataFrame, stat: String): DataFrame =
    withContrib
      .withColumn(stat, round(
        sum(col("contrib")).over(
          Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)), 6))
      .select(col("bin"), col("c_a"), col("c_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("contrib"), 6).as("contrib"), col(stat))
      .orderBy("bin")

  /** Jensen–Shannon divergence over the same fixed-bin histogram frame
    * as [[psiDrift]] (shared smoothing, shared clamp discipline):
    * JSD = ½·KL(pa‖m) + ½·KL(pb‖m) with m = (pa+pb)/2, natural log.
    * Unlike PSI it is symmetric, bounded (≤ ln 2) and defined even when
    * one side's bin is empty without relying on the smoothing to stay
    * finite — the preferred drift score when the two snapshots can have
    * disjoint support. Same 100 TB posture: one groupBy per side keyed
    * on the bin id, k-row arithmetic after, shuffle width = bins.
    */
  def jsDivergence(a: DataFrame, b: DataFrame, valCol: String,
                   lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "jsDivergence needs bins > 0 and hi > lo")
    binTotal(smoothedBins(a, b, valCol, lo, hi, bins)
      .withColumn("m", (col("p_a") + col("p_b")) / 2.0)
      .withColumn("contrib",
        (col("p_a") * log(col("p_a") / col("m"))
          + col("p_b") * log(col("p_b") / col("m"))) / 2.0), "jsd")
  }

  /** CUSUM changepoint score per key: Sₜ = Σ_{i≤t}(xᵢ − x̄) over the
    * ordered series; the score is max|Sₜ| normalized by σ·√n (the
    * standardized CUSUM statistic — ≳1.3 is the classic 5% flag for "this
    * series' mean SHIFTED somewhere", the single most common real drift
    * in daily pipeline metrics, which PSI/KS over the pooled distribution
    * can dilute past detection), and `change_at` is the ord value where
    * the excursion peaks — the estimated shift point a responder starts
    * reading logs from.
    *
    * Runs on a PRE-AGGREGATED per-key series (daily totals — the series
    * contract of the [[Windows]] family): per-key mean/σ/n are window
    * aggregates over the key partition, the cumulative sum is the same
    * one-exchange ordered window, and the argmax rides a struct-max
    * (|S| rounded to 6 first, so an exact float tie cannot pick different
    * days in different engines; ties then break to the LATER day).
    * Keys whose σ is 0 report a NULL score (no variation ⇒ no shift).
    */
  def cusumChangepoint(series: DataFrame, keyCol: String, ordCol: String,
                       valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val byKey = Window.partitionBy("__k")
    val cum = Window.partitionBy("__k").orderBy("__o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.select(col(keyCol).as("__k"), col(ordCol).as("__o"), x.as("__x"))
      .withColumn("__m", avg(col("__x")).over(byKey))
      .withColumn("__sd", stddev_samp(col("__x")).over(byKey))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("__s", sum(col("__x") - col("__m")).over(cum))
      .withColumn("__abs", round(abs(col("__s")), 6))
      .groupBy(col("__k").as(keyCol))
      .agg(max(col("__n")).as("n_obs"),
        round(when(max(col("__sd")) > 0,
          max(col("__abs")) / (max(col("__sd")) * sqrt(max(col("__n"))))),
          6).as("cusum_score"),
        max(struct(col("__abs"), col("__o"))).getField("__o")
          .as("change_at"))
      .orderBy(keyCol)
  }

  /** Page-Hinkley upward-shift detector per key (Page '54; the
    * sequential-monitoring cousin of [[cusumChangepoint]] — CUSUM
    * scores the single best retrospective split, PH tracks the running
    * excursion and fires the moment it exceeds λ, the form streaming
    * monitors actually deploy): on the per-key STANDARDIZED series
    * z = (x−μ)/σ, m_t = Σ_{i≤t}(z_i − δ), PH_t = m_t − min_{i≤t} m_i;
    * alarm at the first t with PH_t > λ. δ is the drift allowance and
    * λ the alarm threshold, both in σ units (scale-free).
    *
    * Determinism: μ/σ are key-global aggregates; every cumulative is a
    * PINNED key-partitioned fold in time order, and the λ comparison
    * runs on the unrounded fold in both engines (mirror the same
    * expression); published columns round to 6.
    *
    * Scale shape: identical to [[cusumChangepoint]] — three
    * key-partitioned window passes over the PRE-AGGREGATED series
    * frame, bounded by the time grid per key, never raw corpus rows.
    */
  def pageHinkley(series: DataFrame, keyCol: String, ordCol: String,
                  valCol: String, delta: Double = 0.05,
                  lambda: Double = 3.0): DataFrame = {
    require(delta >= 0.0 && lambda > 0.0,
      "pageHinkley needs delta >= 0 and lambda > 0")
    val x = col(valCol).cast("double")
    val byKey = Window.partitionBy("__k")
    val cum = Window.partitionBy("__k").orderBy("__o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .select(col(keyCol).as("__k"), col(ordCol).as("__o"), x.as("__x"))
      .withColumn("__m", avg(col("__x")).over(byKey))
      .withColumn("__sd", stddev_samp(col("__x")).over(byKey))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("__z", when(col("__sd") > 0.0,
        (col("__x") - col("__m")) / col("__sd")).otherwise(lit(0.0)))
      .withColumn("__mt", sum(col("__z") - lit(delta)).over(cum))
      .withColumn("__ph", col("__mt") - min(col("__mt")).over(cum))
      .groupBy(col("__k").as(keyCol))
      .agg(max(col("__n")).as("n_obs"),
        round(max(col("__ph")), 6).as("ph_max"),
        sum(when(col("__ph") > lambda, 1L).otherwise(0L))
          .as("n_over"),
        min(when(col("__ph") > lambda, col("__o"))).as("alarm_at"))
      .withColumn("alarmed", col("n_over") > 0L)
      .orderBy(keyCol)
  }

  /** Pettitt changepoint test per key — the rank-based (distribution-
    * free) single-changepoint detector monitoring pipelines run when
    * the CUSUM's Gaussian framing is unjustified (Pettitt 1979; the
    * hydrology/climate standard): U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i−x_j),
    * the changepoint is argmax|U_t|, and the significance is the
    * closed-form approximation p ≈ 2·exp(−6K²/(n³+n²)).
    *
    * The naive U is O(n²) pairs; this uses the RANK IDENTITY
    * U_t = 2·S_t − t·(n+1) (S_t = cumulative midranks), making the
    * whole test THREE key-partitioned window passes over the
    * pre-aggregated series — rank, cumulative sum, argmax — never a
    * pair join. With midranks for ties, 2·S_t is always an integer, so
    * U is integer-exact cross-engine; the argmax breaks ties on the
    * earliest time. exp() in the p-value is last-ulp engine-specific
    * in principle; the published round(…, 6) absorbs it (the
    * fitLogistic1 precedent).
    *
    * Output per key: n_obs, change_at (last time of the pre-change
    * segment), u_max (signed U at the argmax of |U|), p_value, and the
    * rounded segment means on each side of the split.
    */
  def pettittChangepoint(series: DataFrame, keyCol: String,
                         ordCol: String, valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val byKey = Window.partitionBy("__k")
    val byTime = Window.partitionBy("__k").orderBy("__o")
    val cum = byTime.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val ranked = series
      .select(col(keyCol).as("__k"), col(ordCol).as("__o"), x.as("__x"))
      // midrank = min-rank + (ties − 1)/2: the average position of the
      // tied block, the convention that keeps Σ ranks = n(n+1)/2
      .withColumn("__rk",
        rank().over(Window.partitionBy("__k").orderBy("__x")) +
          (count(lit(1)).over(Window.partitionBy("__k", "__x")) - 1) / 2.0)
      .withColumn("__t", row_number().over(byTime))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("__u",
        (lit(2.0) * sum(col("__rk")).over(cum) -
          col("__t") * (col("__n") + 1)).cast("long"))
    // drop the last row: U_n = 0 identically (no split after the end)
    val stats = ranked.filter(col("__t") < col("__n"))
      .groupBy(col("__k"))
      .agg(max(col("__n")).as("n_obs"),
        max(struct(abs(col("__u")).as("a"), (lit(-1) * col("__t")).as("negt"),
          col("__u").as("u"), col("__o").as("o"))).as("__best"))
      .select(col("__k"), col("n_obs"),
        col("__best.o").as("change_at"),
        (lit(-1) * col("__best.negt")).as("__ct"),
        col("__best.u").as("u_max"))
    val means = ranked.join(
      stats.select(col("__k"), col("__ct")), Seq("__k"))
      .groupBy(col("__k"))
      .agg(
        round(sum(when(col("__t") <= col("__ct"), col("__x")))
          / sum(when(col("__t") <= col("__ct"), 1L)), 6)
          .as("mean_before"),
        round(sum(when(col("__t") > col("__ct"), col("__x")))
          / sum(when(col("__t") > col("__ct"), 1L)), 6)
          .as("mean_after"))
    stats.join(means, Seq("__k"))
      .select(col("__k").as(keyCol), col("n_obs"),
        col("change_at"), col("u_max"),
        round(least(lit(1.0),
          lit(2.0) * exp(lit(-6.0) * col("u_max") * col("u_max") /
            (col("n_obs") * col("n_obs") * col("n_obs") +
              col("n_obs") * col("n_obs")))), 6).as("p_value"),
        col("mean_before"), col("mean_after"))
      .orderBy(keyCol)
  }

  /** Exact two-sample KS: D = max over the pooled distinct values of
    * |ECDF_a − ECDF_b| (right-continuous ECDFs, ties handled exactly by
    * grouping on the value first). One row: D, the value attaining it
    * (smallest such value for determinism — located by exact float match
    * against the max, which is sound because both rows computed the gap
    * with identical arithmetic), and both sample sizes.
    */
  def ksDrift(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val perValue = a.select(v.as("v"), lit(1L).as("ca"), lit(0L).as("cb"))
      .unionAll(b.select(v.as("v"), lit(0L).as("ca"), lit(1L).as("cb")))
      .groupBy("v").agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perValue.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val gaps = perValue.crossJoin(broadcast(tot))
      .withColumn("gap", abs(
        sum(col("ca")).over(cum) / col("n_a")
          - sum(col("cb")).over(cum) / col("n_b")))
    val maxD = gaps.agg(max(col("gap")).as("maxgap"))
    gaps.crossJoin(broadcast(maxD))
      .filter(col("gap") === col("maxgap"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        round(max(col("maxgap")), 6).as("ks_d"),
        round(min(col("v")), 6).as("at_value"))
  }

  /** Per-dimension embedding statistics — the drift monitor for the
    * VECTOR side of the pipeline (a retrained or corrupted encoder shows
    * up as per-dimension mean/std shifts long before any downstream
    * metric moves; also catches the classic all-zeros-dimension bug).
    * One posexplode (rows × dims, a narrow codegen'd projection) into one
    * map-side-combined groupBy(dim): the exchange carries `dims` partial
    * rows per partition, never the corpus. Dims are 1-based to match SQL
    * array indexing.
    */
  def embeddingDimStats(emb: DataFrame, vecCol: String): DataFrame =
    emb
      .select(posexplode(col(vecCol)).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).cast("long").as("dim"),
        col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("mean_x"),
        round(stddev_samp(col("x")), 6).as("std_x"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .orderBy("dim")

  /** Linear-kernel Maximum Mean Discrepancy between two embedding
    * snapshots — "did the embedding DISTRIBUTION move?" as one number:
    * MMD²_lin = ‖μ_A − μ_B‖² (Gretton et al., JMLR'12; the linear
    * kernel reduces the general form to a mean-embedding distance, the
    * form that costs one pass instead of n²). [[embeddingDimStats]]
    * reads dims one at a time; this is the aggregate two-sample test,
    * with the per-dim mean gaps reported so the drift LOCATES itself.
    *
    * Float discipline: components are floored onto the dyadic
    * 2^-gridBits lattice first, so every per-dim sum is EXACT in any
    * accumulation order (the [[Similarity.ivfCentroids]] grid rule);
    * means are exact-sum quotients and the Σ over dims folds in PINNED
    * dim order.
    *
    * Scale shape: two map-side-combined (dim) rollups — dims-bounded
    * frames everywhere after; no pairwise anything.
    */
  def mmdDrift(a: DataFrame, b: DataFrame, vecCol: String,
               gridBits: Int = 10): DataFrame = {
    require(gridBits >= 0 && gridBits <= 20,
      "mmdDrift needs gridBits in 0..20")
    val scale = math.pow(2.0, gridBits)
    def side(df: DataFrame, tag: String): DataFrame = df
      .select(posexplode(transform(col(vecCol),
        x => floor(x.cast("double") * scale) / scale))
        .as(Seq("dim", s"__x_$tag")))
      .groupBy("dim")
      .agg(sum(col(s"__x_$tag")).as(s"__s_$tag"),
        count(lit(1)).as(s"__n_$tag"))
    val pin = Window.orderBy("dim")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    side(a, "a").join(side(b, "b"), Seq("dim"))
      .withColumn("__ma", col("__s_a") / col("__n_a").cast("double"))
      .withColumn("__mb", col("__s_b") / col("__n_b").cast("double"))
      .withColumn("__d", col("__ma") - col("__mb"))
      .withColumn("__mmd2", sum(col("__d") * col("__d")).over(pin))
      .select(col("dim").cast("int").as("dim"),
        round(col("__ma"), 6).as("mean_a"),
        round(col("__mb"), 6).as("mean_b"),
        round(col("__d"), 6).as("mean_gap"),
        round(col("__mmd2"), 6).as("mmd2"))
      .orderBy("dim")
  }
}
