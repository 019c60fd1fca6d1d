package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window & time-series operators (SURVEY §2.5) — the reference does all of
  * these in pandas over date-sorted frames; here each is ONE window pass,
  * partitioned by the series key so the 100 TB plan shuffles once on the
  * series key and sorts within partitions (no global sort, no driver
  * collect).
  *
  * Reference evidence: lags/rolling notebooks/weather_forecasting.ipynb
  * cell 30; diff cells 9/29; chrono split dags/forecasting_dag.py:103-105;
  * interpolation streamlit/weather_analysis.py:101; seasonal decomposition
  * streamlit/weather_analysis.py:103-110.
  */
object Windows {

  // Series contract shared by every op in this family: events carry a
  // non-NULL ts (the ingest path validates timestamps before gold).
  // A NULL ts would be ill-defined for any ordered-series op — and would
  // also sort differently across engines (Spark ASC is NULLS FIRST,
  // SQL engines default NULLS LAST), so it is a contract, not a default.
  private def seriesW = Window.partitionBy("user_id").orderBy("ts", "event_id")

  /** Lag features + first difference (W2/W3): lag k ∈ {1,2} and diff over a
    * per-key ordered series. Ties on ts broken by the unique event_id so the
    * result is deterministic under any parallelism.
    */
  def lagFeatures(events: DataFrame): DataFrame =
    events
      .withColumn("lag1", lag(col("value"), 1).over(seriesW))
      .withColumn("lag2", lag(col("value"), 2).over(seriesW))
      .withColumn("diff1", col("value") - lag(col("value"), 1).over(seriesW))
      .select(col("event_id"), col("user_id"), col("value"),
        col("lag1"), col("lag2"), col("diff1"))
      .orderBy("event_id")

  /** Per-key running total (pandas `.cumsum()` — the balance/odometer
    * view): cumulative sum over the (ts, event_id)-ordered series. The
    * accumulation order is total and deterministic, so the float sum is
    * bit-identical in any engine that walks the same order — unlike a
    * groupBy sum, no rounding slack is even needed (kept for uniformity).
    * Same one-shuffle key-partitioned window shape as [[lagFeatures]].
    */
  def runningTotal(events: DataFrame): DataFrame =
    events
      .withColumn("running",
        round(sum(col("value")).over(
          seriesW.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          6))
      .select(col("event_id"), col("user_id"), col("value"), col("running"))
      .orderBy("event_id")

  /** Rolling mean/std/min/max over the trailing w rows, shifted by 1 so row
    * i sees only rows < i (leakage-free, exactly the reference's
    * `.rolling(w).agg().shift(1)`).
    */
  def rollingFeatures(events: DataFrame, w: Int): DataFrame = {
    val frame = seriesW.rowsBetween(-w, -1)
    // stddev_samp over a single-row frame is NaN in Spark but NULL in
    // standard SQL (and DuckDB) — normalize to NULL.
    val sd = stddev_samp(col("value")).over(frame)
    events
      .withColumn("roll_mean", round(avg(col("value")).over(frame), 6))
      .withColumn("roll_std", round(when(!isnan(sd), sd), 6))
      .withColumn("roll_min", min(col("value")).over(frame))
      .withColumn("roll_max", max(col("value")).over(frame))
      .select(col("event_id"), col("user_id"), col("value"),
        col("roll_mean"), col("roll_std"), col("roll_min"), col("roll_max"))
      .orderBy("event_id")
  }

  /** Time-weighted average — the unbiased mean for IRREGULARLY sampled
    * series (a plain avg over-weights bursts; sensors/quotes/telemetry
    * all need this): each reading is weighted by how long it was current
    * (time to the next reading of the same key); the final reading has no
    * holding interval and is excluded from both sums. One keyed window
    * pass for the lead + one groupBy — the same single-shuffle shape as
    * [[lagFeatures]]. Exact microsecond arithmetic for the weights.
    */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val dt = unix_micros(lead(col("ts"), 1).over(seriesW)) -
      unix_micros(col("ts"))
    events
      .withColumn("__dt", dt)
      .filter(col("__dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        round(sum(col("value") * col("__dt")) / sum(col("__dt")), 6)
          .as("twa"))
      .orderBy("user_id")
  }

  /** Rolling z-score anomaly detection — the monitoring twin of
    * [[rollingFeatures]]: flag readings more than `k` trailing standard
    * deviations from the trailing mean (window shifted by 1 so the
    * flagged value never contaminates its own baseline — the same
    * leakage rule as the feature op). Output is the flagged rows only;
    * one keyed window pass, no second shuffle.
    */
  def rollingAnomalies(events: DataFrame, w: Int, k: Double): DataFrame = {
    val frame = seriesW.rowsBetween(-w, -1)
    val m = avg(col("value")).over(frame)
    val s = stddev_samp(col("value")).over(frame)
    events
      .withColumn("__m", m).withColumn("__s", s)
      .filter(col("__s").isNotNull && !isnan(col("__s")) &&
        abs(col("value") - col("__m")) > lit(k) * col("__s"))
      .select(col("event_id"), col("user_id"), col("value"),
        round(col("__m"), 6).as("roll_mean"),
        round(col("__s"), 6).as("roll_std"))
      .orderBy("event_id")
  }

  /** Chronological fraction split (W5; dags/forecasting_dag.py:103-105
    * `iloc[:int(len*0.8)]`): summary of the train/test partition.
    *
    * Exact-at-scale form: the summary is invariant to WHICH rows inside
    * the boundary date cross the floor(n·frac) line, so a per-row global
    * row_number (single-reducer sort of the whole table) is unnecessary.
    * Instead: one map-side-combined groupBy(date), then the cumulative
    * count over the DISTINCT-DATE frame — the only unpartitioned window
    * runs over one row per date, bounded by the calendar, not the corpus.
    * Each date contributes min(c, max(k - cum_before, 0)) train rows;
    * the per-split counts and date ranges follow by aggregation, and they
    * equal the row_number spelling's output exactly (the DuckDB oracle
    * still computes the row_number form).
    */
  def chronoSplitSummary(orders: DataFrame, frac: Double): DataFrame = {
    val tot = orders.agg(count(lit(1)).as("n"))
    val perDate = orders.groupBy("o_orderdate").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("o_orderdate")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = perDate
      .crossJoin(broadcast(tot))
      .withColumn("cum", sum("c").over(w))
      .withColumn("k", floor(col("n") * frac))
      .withColumn("tr", least(col("c"),
        greatest(col("k") - (col("cum") - col("c")), lit(0L))))
    val splits = tagged
      .select(col("o_orderdate"), col("tr").as("m"), lit("train").as("split"))
      .union(tagged.select(col("o_orderdate"), (col("c") - col("tr")).as("m"),
        lit("test").as("split")))
      .filter(col("m") > 0)
    splits.groupBy("split")
      .agg(sum("m").as("n_rows"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))
      .orderBy("split")
  }

  /** Scale path for W5: split on an approximate date quantile — one pass to
    * sketch the quantile, one scan to tag; no global sort anywhere.
    */
  def chronoSplitByDateCutoff(df: DataFrame, dateCol: String,
                              frac: Double): DataFrame = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    // date/timestamp → numeric sort key (Spark 4 forbids a direct
    // date→double cast); same expression drives the sketch and the tag,
    // so the split is consistent whatever the session timezone does
    val key = df.schema(dateCol).dataType match {
      case DateType => unix_date(col(dateCol))
      case TimestampType | TimestampNTZType =>
        unix_micros(col(dateCol).cast("timestamp"))
      case _ => col(dateCol).cast("double")
    }
    val cutoff = df.agg(
      percentile_approx(key, lit(frac), lit(10000)).as("__cutoff"))
    df.crossJoin(broadcast(cutoff))
      .withColumn("split",
        when(key <= col("__cutoff"), "train").otherwise("test"))
      .drop("__cutoff")
  }

  /** Linear interpolation of gaps (W6; weather_analysis.py:101
    * `interpolate()`, pandas default: linear, forward) — composed from
    * built-ins: last/first non-null values and their row indices over
    * unbounded fwd/bwd frames, then a linear blend by row distance.
    * Leading nulls stay null; trailing nulls take the last value (pandas
    * forward fill-through). One shuffle on the series key.
    */
  def interpolate(df: DataFrame, keyCol: String, ordCols: Seq[String],
                  valCol: String): DataFrame = {
    val base = Window.partitionBy(keyCol)
      .orderBy(ordCols.map(col): _*)
    val bw = base.rowsBetween(Window.unboundedPreceding, 0)
    val fw = base.rowsBetween(0, Window.unboundedFollowing)
    val v = col(valCol)
    val idx = row_number().over(base)
    val pv = last(v, ignoreNulls = true).over(bw)
    val pi = last(when(v.isNotNull, idx), ignoreNulls = true).over(bw)
    val nv = first(v, ignoreNulls = true).over(fw)
    val ni = first(when(v.isNotNull, idx), ignoreNulls = true).over(fw)
    df.withColumn("__i", idx)
      .withColumn(s"${valCol}_interp", round(
        when(v.isNotNull, v)
          .when(pv.isNull, lit(null))                    // leading nulls stay
          .when(nv.isNull, pv)                           // trailing: ffill
          .otherwise(pv + (nv - pv) *
            ((col("__i") - pi).cast("double") / (ni - pi).cast("double"))),
        6))
      .drop("__i")
  }

  /** Additive seasonal decomposition (W7; weather_analysis.py:103-110,
    * statsmodels seasonal_decompose re-expressed): over a daily series,
    * trend = centered moving average (window = period), seasonal = mean of
    * detrended per phase re-centered, resid = observed − trend − seasonal.
    * Three window/agg passes, all partition-parallel by phase/day.
    */
  def seasonalDecompose(daily: DataFrame, dateCol: String, valCol: String,
                        period: Int): DataFrame = {
    val half = period / 2
    val w = Window.orderBy(dateCol)
    val trendFrame = w.rowsBetween(-half, half)
    // statsmodels centered moving average: plain mean for odd periods;
    // for even periods a (period+1)-wide window with half-weighted ends
    // (filt = [0.5, 1, ..., 1, 0.5] / period) — requires the full window.
    val trend =
      if (period % 2 == 1)
        when(count(col(valCol)).over(trendFrame) === period,
          avg(col(valCol)).over(trendFrame))
      else {
        val innerSum = sum(col(valCol)).over(w.rowsBetween(-half + 1, half - 1))
        val ends = lag(col(valCol), half).over(w) + lead(col(valCol), half).over(w)
        when(count(col(valCol)).over(trendFrame) === period + 1,
          (innerSum + ends * 0.5) / period)
      }
    val withTrend = daily
      .withColumn("__rn", row_number().over(w))
      .withColumn("trend", trend)
      .withColumn("detrended", col(valCol) - col("trend"))
      .withColumn("phase", (col("__rn") - 1) % period)
    val phaseMeans = withTrend.groupBy("phase")
      .agg(avg(col("detrended")).as("phase_mean"))
    val seasonalMean = phaseMeans.agg(avg("phase_mean").as("season_center"))
    withTrend
      .join(broadcast(phaseMeans), Seq("phase"))
      .crossJoin(broadcast(seasonalMean))
      .withColumn("seasonal", col("phase_mean") - col("season_center"))
      .withColumn("resid", col(valCol) - col("trend") - col("seasonal"))
      .select(col(dateCol), round(col(valCol), 6).as("observed"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("resid"), 6).as("resid"))
      .orderBy(dateCol)
  }

  /** Year-over-year frame (W10; weather_analysis.py:190-209). */
  def yearOverYear(orders: DataFrame): DataFrame =
    orders
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("o_totalprice")), 4).as("avg_price"))
      .orderBy("yr", "mon")

  /** Year-over-year PIVOT frame (W10 variant; weather_analysis.py:190-209
    * draws one line per year over months — the wide form). Explicit pivot
    * values keep the plan static (no extra distinct-scan job) and the
    * output schema deterministic.
    */
  def yoyPivot(orders: DataFrame, years: Seq[Int]): DataFrame =
    orders
      .groupBy(month(col("o_orderdate")).as("mon"))
      .pivot(year(col("o_orderdate")), years.map(Integer.valueOf))
      .agg(round(avg(col("o_totalprice")), 4))
      .select(col("mon") +: years.map(y => col(y.toString).as(s"y$y")): _*)
      .orderBy("mon")

  /** Funnel with ROLLUP subtotals (grouping-sets surface; the reference's
    * fixed groupings at etl_logs.py:188-204 are the natural rollup
    * candidates — SURVEY §2.4 note).
    */
  def revenueRollup(orders: DataFrame, customer: DataFrame,
                    nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("region").asc_nulls_first, col("nation").asc_nulls_first)

  /** CUBE companion to [[revenueRollup]]: all four grouping sets of
    * (status, year) — the dashboard matrix form (every margin in one
    * pass; Spark expands the sets map-side, still a single shuffle).
    */
  def revenueCube(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus").as("status"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("status").asc_nulls_first, col("yr").asc_nulls_first)

  /** GROUPING SETS companion to [[revenueCube]]: exactly the (status, yr),
    * (status), (yr) slices — no grand total — in ONE pass. Catalyst plans
    * all three groupings over a single Expand of the scan (same shape as
    * cube/rollup), so the fact table is read once, not once per slice;
    * at 100 TB that is the difference between one shuffle and three.
    */
  def revenueGroupingSets(orders: DataFrame): DataFrame = {
    // the set entries must be expression-equal to the grouping columns —
    // an .as() alias on the grouping column breaks the match and every
    // set silently degrades to the grand total; alias AFTER the agg
    val status = col("o_orderstatus")
    val yr = year(col("o_orderdate"))
    orders
      .groupingSets(Seq(Seq(status, yr), Seq(status), Seq(yr)), status, yr)
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .select(col("o_orderstatus").as("status"),
        col("year(o_orderdate)").as("yr"),
        col("n_orders"), col("revenue"))
      .orderBy(col("status").asc_nulls_first, col("yr").asc_nulls_first)
  }

  /** Monthly distribution quartiles (W11; weather_analysis.py:193-196). */
  def monthlyQuartiles(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(month(col("l_shipdate")).as("mon"))
      .agg(
        min(col("l_quantity")).as("min_qty"),
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q1"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("q3"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy("mon")

  /** ADF with AIC model selection over the FIXED candidate lag orders
    * 0..2 — statsmodels' autolag='AIC' selection PROCEDURE (fit every
    * candidate on a COMMON sample, pick the minimum-AIC order — ties to
    * the smaller lag — then refit that order on its own maximal sample;
    * the notebook calls `adfuller` with defaults,
    * notebooks/weather_forecasting.ipynb "ADF Statistic" cell), but NOT
    * its default candidate set: statsmodels defaults maxlag to
    * ~12·(n/100)^0.25 (> 2 for all but very short series), so an actual
    * `adfuller()` call can select a higher order and diverge. The 0..2
    * cap here matches the oracle and keeps the unrolled closed forms
    * bounded; widen the candidate set by extending the lag columns and
    * per-order Cramer blocks if parity with a specific maxlag is needed.
    *
    * Engine-native, the whole selection loop is ONE plan: a single lag
    * window pass builds y_{t-1}..y_{t-3}, one aggregation computes every
    * candidate's moment sums — conditionally, so the common trim-3 sample
    * and each refit's own trim-(k+1) sample come out of the same pass —
    * and the per-order OLS fits are closed forms over CENTERED moments
    * (k=0: scalar slope; k=1: 2×2 Cramer; k=2: 3×3 Cramer, with SE(γ̂)²
    * = s²·(S⁻¹)_γγ from the γ cofactor). AIC uses the Gaussian
    * log-likelihood, n·ln(SSE/n) + n·(ln 2π + 1) + 2k_params, with
    * ln(2π)+1 inlined as the literal 2.8378770664093453 so both engines
    * evaluate identical bits. The min-AIC pick and the chosen order's
    * refit t-stat resolve with CASE arithmetic in the same plan — no
    * driver loop, no refitting job per candidate.
    *
    * Same scale posture as [[adfTest]]: the input is a pre-aggregated
    * series, so the single-task lag window is bounded by the calendar,
    * not the corpus; the candidate "loop" costs three closed forms over
    * one 31-sum aggregate.
    */
  def adfTestAutolag(series: DataFrame, ordCol: String,
                     valCol: String): DataFrame = {
    val w = Window.orderBy(col(ordCol))
    val lagged = series
      .select(col(ordCol), col(valCol).cast("double").as("__y"))
      .withColumn("__y1", lag(col("__y"), 1).over(w))
      .withColumn("__y2", lag(col("__y"), 2).over(w))
      .withColumn("__y3", lag(col("__y"), 3).over(w))
      .filter(col("__y1").isNotNull)
      .withColumn("__d", col("__y") - col("__y1"))
      .withColumn("__x1", col("__y1"))
      .withColumn("__x2", col("__y1") - col("__y2"))
      .withColumn("__x3", col("__y2") - col("__y3"))
    val c2 = col("__y2").isNotNull
    val c3 = col("__y3").isNotNull
    def s(cond: Column, e: Column) = sum(when(cond, e))
    val x1 = col("__x1"); val x2 = col("__x2"); val x3 = col("__x3")
    val d = col("__d")
    // one pass, three conditional moment sets: trim-1 (lag-0 refit),
    // trim-2 (lag-1 refit), trim-3 (candidate sample == lag-2 refit)
    val sums = lagged.agg(
      count(lit(1)).cast("double").as("n0"),
      sum(x1).as("a1"), sum(d).as("ad"), sum(x1 * x1).as("a11"),
      sum(x1 * d).as("a1d"), sum(d * d).as("add2"),
      count(when(c2, 1)).cast("double").as("n1"),
      s(c2, x1).as("b1"), s(c2, x2).as("b2"), s(c2, d).as("bd"),
      s(c2, x1 * x1).as("b11"), s(c2, x1 * x2).as("b12"),
      s(c2, x2 * x2).as("b22"), s(c2, x1 * d).as("b1d"),
      s(c2, x2 * d).as("b2d"), s(c2, d * d).as("bdd"),
      count(when(c3, 1)).cast("double").as("n3"),
      s(c3, x1).as("u1"), s(c3, x2).as("u2"), s(c3, x3).as("u3"),
      s(c3, d).as("ud"),
      s(c3, x1 * x1).as("u11"), s(c3, x1 * x2).as("u12"),
      s(c3, x1 * x3).as("u13"), s(c3, x2 * x2).as("u22"),
      s(c3, x2 * x3).as("u23"), s(c3, x3 * x3).as("u33"),
      s(c3, x1 * d).as("u1d"), s(c3, x2 * d).as("u2d"),
      s(c3, x3 * d).as("u3d"), s(c3, d * d).as("udd"))
    // centered second moments, candidate (trim-3) sample
    val cand = sums
      .withColumn("S11", col("u11") - col("u1") * col("u1") / col("n3"))
      .withColumn("S12", col("u12") - col("u1") * col("u2") / col("n3"))
      .withColumn("S13", col("u13") - col("u1") * col("u3") / col("n3"))
      .withColumn("S22", col("u22") - col("u2") * col("u2") / col("n3"))
      .withColumn("S23", col("u23") - col("u2") * col("u3") / col("n3"))
      .withColumn("S33", col("u33") - col("u3") * col("u3") / col("n3"))
      .withColumn("S1d", col("u1d") - col("u1") * col("ud") / col("n3"))
      .withColumn("S2d", col("u2d") - col("u2") * col("ud") / col("n3"))
      .withColumn("S3d", col("u3d") - col("u3") * col("ud") / col("n3"))
      .withColumn("Sdd", col("udd") - col("ud") * col("ud") / col("n3"))
      // k=0 candidate: one centered regressor
      .withColumn("sse0", col("Sdd") - col("S1d") / col("S11") * col("S1d"))
      // k=1 candidate: 2×2 Cramer
      .withColumn("det2", col("S11") * col("S22") - col("S12") * col("S12"))
      .withColumn("g1c",
        (col("S1d") * col("S22") - col("S12") * col("S2d")) / col("det2"))
      .withColumn("h1c",
        (col("S11") * col("S2d") - col("S1d") * col("S12")) / col("det2"))
      .withColumn("sse1",
        col("Sdd") - col("g1c") * col("S1d") - col("h1c") * col("S2d"))
      // k=2 candidate: 3×3 Cramer
      .withColumn("det3",
        col("S11") * (col("S22") * col("S33") - col("S23") * col("S23"))
          - col("S12") * (col("S12") * col("S33") - col("S23") * col("S13"))
          + col("S13") * (col("S12") * col("S23") - col("S22") * col("S13")))
      .withColumn("g2c",
        (col("S1d") * (col("S22") * col("S33") - col("S23") * col("S23"))
          - col("S12") * (col("S2d") * col("S33") - col("S23") * col("S3d"))
          + col("S13") * (col("S2d") * col("S23") - col("S22") * col("S3d")))
          / col("det3"))
      .withColumn("h2c",
        (col("S11") * (col("S2d") * col("S33") - col("S23") * col("S3d"))
          - col("S1d") * (col("S12") * col("S33") - col("S23") * col("S13"))
          + col("S13") * (col("S12") * col("S3d") - col("S2d") * col("S13")))
          / col("det3"))
      .withColumn("j2c",
        (col("S11") * (col("S22") * col("S3d") - col("S2d") * col("S23"))
          - col("S12") * (col("S12") * col("S3d") - col("S2d") * col("S13"))
          + col("S1d") * (col("S12") * col("S23") - col("S22") * col("S13")))
          / col("det3"))
      .withColumn("sse2",
        col("Sdd") - col("g2c") * col("S1d") - col("h2c") * col("S2d")
          - col("j2c") * col("S3d"))
    def aic(sse: Column, kParams: Int): Column =
      col("n3") * log(sse / col("n3")) +
        col("n3") * lit(2.8378770664093453) + lit(2.0 * kParams)
    val picked = cand
      .withColumn("aic0", aic(col("sse0"), 2))
      .withColumn("aic1", aic(col("sse1"), 3))
      .withColumn("aic2", aic(col("sse2"), 4))
      .withColumn("usedlag",
        when(col("aic0") <= col("aic1") && col("aic0") <= col("aic2"), 0)
          .when(col("aic1") <= col("aic2"), 1).otherwise(2))
    // refits on each order's own maximal sample (centered forms again)
    val refit = picked
      .withColumn("P11", col("a11") - col("a1") * col("a1") / col("n0"))
      .withColumn("P1d", col("a1d") - col("a1") * col("ad") / col("n0"))
      .withColumn("Pdd", col("add2") - col("ad") * col("ad") / col("n0"))
      .withColumn("gam0", col("P1d") / col("P11"))
      .withColumn("sf0", col("Pdd") - col("gam0") * col("P1d"))
      .withColumn("t0", col("gam0") / sqrt(
        col("sf0") / (col("n0") - 2) / col("P11")))
      .withColumn("Q11", col("b11") - col("b1") * col("b1") / col("n1"))
      .withColumn("Q12", col("b12") - col("b1") * col("b2") / col("n1"))
      .withColumn("Q22", col("b22") - col("b2") * col("b2") / col("n1"))
      .withColumn("Q1d", col("b1d") - col("b1") * col("bd") / col("n1"))
      .withColumn("Q2d", col("b2d") - col("b2") * col("bd") / col("n1"))
      .withColumn("Qdd", col("bdd") - col("bd") * col("bd") / col("n1"))
      .withColumn("detQ", col("Q11") * col("Q22") - col("Q12") * col("Q12"))
      .withColumn("gam1",
        (col("Q1d") * col("Q22") - col("Q12") * col("Q2d")) / col("detQ"))
      .withColumn("bet1",
        (col("Q11") * col("Q2d") - col("Q1d") * col("Q12")) / col("detQ"))
      .withColumn("sf1",
        col("Qdd") - col("gam1") * col("Q1d") - col("bet1") * col("Q2d"))
      .withColumn("t1", col("gam1") / sqrt(
        col("sf1") / (col("n1") - 3) * col("Q22") / col("detQ")))
      .withColumn("t2", col("g2c") / sqrt(
        col("sse2") / (col("n3") - 4) *
          (col("S22") * col("S33") - col("S23") * col("S23")) / col("det3")))
    refit
      .withColumn("gamma",
        when(col("usedlag") === 0, col("gam0"))
          .when(col("usedlag") === 1, col("gam1")).otherwise(col("g2c")))
      .withColumn("t_stat",
        when(col("usedlag") === 0, col("t0"))
          .when(col("usedlag") === 1, col("t1")).otherwise(col("t2")))
      .withColumn("aic_best",
        when(col("usedlag") === 0, col("aic0"))
          .when(col("usedlag") === 1, col("aic1")).otherwise(col("aic2")))
      .select(
        when(col("usedlag") === 0, col("n0"))
          .when(col("usedlag") === 1, col("n1")).otherwise(col("n3"))
          .cast("long").as("n_obs"),
        col("usedlag"),
        round(col("aic_best"), 6).as("aic"),
        round(col("gamma"), 6).as("gamma"),
        round(col("t_stat"), 6).as("t_stat"),
        lit(-3.43).as("crit_1pct"), lit(-2.86).as("crit_5pct"),
        lit(-2.57).as("crit_10pct"),
        (col("t_stat") < -2.86).as("stationary"))
  }

  /** Dickey-Fuller stationarity test (W12; the notebooks run statsmodels
    * `adfuller` on the daily weather series —
    * notebooks/weather_forecasting.ipynb "ADF Statistic" cell). Re-expressed
    * engine-native as the augmented DF regression with a constant, no trend
    * term, and a FIXED small `maxlag` (for statsmodels' default
    * autolag='AIC' model selection, use [[adfTestAutolag]]):
    *
    *   maxlag=0:  Δy_t = α + γ·y_{t-1} + ε_t
    *   maxlag=1:  Δy_t = α + γ·y_{t-1} + β·Δy_{t-1} + ε_t
    *
    * Either way the OLS solution reduces to one codegen'd pass of
    * distributed sums (six for maxlag 0, ten for maxlag 1 — the full
    * normal-equation moment matrix) with closed-form scalars after it:
    * maxlag 1 inverts the 3×3 system by Cramer's rule, and SE(γ̂) comes
    * from the γ diagonal entry of (XᵀX)⁻¹. Critical values are the
    * asymptotic MacKinnon constant-only ones (−3.43 / −2.86 / −2.57),
    * which do not depend on the lag order; `stationary` = t < 5% value,
    * matching how the notebook reads the test. The lag window orders the
    * whole series in one task — fine because the input is a PRE-AGGREGATED
    * series (days, not raw rows): at 100 TB the heavy reduction happened
    * in the upstream groupBy, and a century of daily data is ~4e4 rows.
    */
  def adfTest(series: DataFrame, ordCol: String, valCol: String,
              maxlag: Int = 0): DataFrame = {
    require(maxlag == 0 || maxlag == 1,
      "adfTest supports maxlag 0 or 1 (closed-form normal equations; " +
        "higher fixed orders would need a matrix solve)")
    val w = Window.orderBy(col(ordCol))
    if (maxlag == 0) {
      val lagged = series
        .select(col(ordCol), col(valCol).cast("double").as("__y"))
        .withColumn("__x", lag(col("__y"), 1).over(w))
        .filter(col("__x").isNotNull)
        .withColumn("__d", col("__y") - col("__x"))
      val nSxx = col("n") * col("sxx") - col("sx") * col("sx")
      lagged
        .agg(count(lit(1)).as("n"),
          sum(col("__x")).as("sx"), sum(col("__d")).as("sy"),
          sum(col("__x") * col("__x")).as("sxx"),
          sum(col("__x") * col("__d")).as("sxy"),
          sum(col("__d") * col("__d")).as("syy"))
        .withColumn("gamma", (col("n") * col("sxy") - col("sx") * col("sy"))
          / nSxx)
        .withColumn("alpha", (col("sy") - col("gamma") * col("sx")) / col("n"))
        .withColumn("sse", col("syy") - col("alpha") * col("sy")
          - col("gamma") * col("sxy"))
        .withColumn("t_stat", col("gamma") / sqrt(
          col("sse") / (col("n") - 2) * col("n") / nSxx))
        .select(col("n").as("n_obs"),
          round(col("gamma"), 6).as("gamma"),
          round(col("t_stat"), 6).as("t_stat"),
          lit(-3.43).as("crit_1pct"), lit(-2.86).as("crit_5pct"),
          lit(-2.57).as("crit_10pct"),
          (col("t_stat") < -2.86).as("stationary"))
    } else {
      // regressors: x1 = y_{t-1}, x2 = Δy_{t-1}; response d = Δy_t.
      // Rows need lag 2 of y, so the sample starts one observation later
      // than the maxlag-0 regression — same trimming statsmodels applies.
      val lagged = series
        .select(col(ordCol), col(valCol).cast("double").as("__y"))
        .withColumn("__x1", lag(col("__y"), 1).over(w))
        .withColumn("__y2", lag(col("__y"), 2).over(w))
        .filter(col("__x1").isNotNull && col("__y2").isNotNull)
        .withColumn("__d", col("__y") - col("__x1"))
        .withColumn("__x2", col("__x1") - col("__y2"))
      val sums = lagged.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("__x1")).as("s1"), sum(col("__x2")).as("s2"),
        sum(col("__x1") * col("__x1")).as("s11"),
        sum(col("__x1") * col("__x2")).as("s12"),
        sum(col("__x2") * col("__x2")).as("s22"),
        sum(col("__d")).as("sd"),
        sum(col("__x1") * col("__d")).as("s1d"),
        sum(col("__x2") * col("__d")).as("s2d"),
        sum(col("__d") * col("__d")).as("sdd"))
      // XᵀX = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], Xᵀy = [sd,s1d,s2d];
      // Cramer's rule for (α, γ, β), then SE(γ̂)² = s²·(XᵀX)⁻¹_γγ with
      // (XᵀX)⁻¹_γγ = (n·s22 − s2²)/det
      val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
      val detA = col("sd") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1d") * col("s22") - col("s12") * col("s2d")) +
        col("s2") * (col("s1d") * col("s12") - col("s11") * col("s2d"))
      val detG = col("n") * (col("s1d") * col("s22") - col("s2d") * col("s12")) -
        col("sd") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s2d") - col("s1d") * col("s2"))
      val detB = col("n") * (col("s11") * col("s2d") - col("s12") * col("s1d")) -
        col("s1") * (col("s1") * col("s2d") - col("s1d") * col("s2")) +
        col("sd") * (col("s1") * col("s12") - col("s11") * col("s2"))
      sums
        .withColumn("alpha", detA / det)
        .withColumn("gamma", detG / det)
        .withColumn("beta", detB / det)
        .withColumn("sse", col("sdd") - col("alpha") * col("sd")
          - col("gamma") * col("s1d") - col("beta") * col("s2d"))
        .withColumn("t_stat", col("gamma") / sqrt(
          col("sse") / (col("n") - 3) *
            (col("n") * col("s22") - col("s2") * col("s2")) / det))
        .select(col("n").cast("long").as("n_obs"),
          round(col("gamma"), 6).as("gamma"),
          round(col("beta"), 6).as("beta_dlag1"),
          round(col("t_stat"), 6).as("t_stat"),
          lit(-3.43).as("crit_1pct"), lit(-2.86).as("crit_5pct"),
          lit(-2.57).as("crit_10pct"),
          (col("t_stat") < -2.86).as("stationary"))
    }
  }

  /** Sample autocorrelation function at lags 1..maxLag (statsmodels
    * `acf` convention: full-series mean and variance in the denominator,
    * acf(j) = Σ_{t>j}(xₜ−x̄)(xₜ₋ⱼ−x̄) / Σ(xₜ−x̄)²) — the seasonality/
    * persistence read that decides an AR order before [[Models.arForecast]]
    * fits one, and the drift monitor for "did the series lose its weekly
    * cycle".
    *
    * Runs on a PRE-AGGREGATED series (daily totals — the [[adfTest]]
    * contract): the mean/variance are one scalar aggregate broadcast
    * back, the k lag columns are one ordered window over the bounded
    * series domain, and the per-lag products collapse in a second scalar
    * aggregate. Output: one row per lag, `(lag, acf)`.
    */
  def acf(series: DataFrame, ordCol: String, valCol: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, "acf needs maxLag >= 1")
    val sums = lagSums(series, ordCol, valCol, maxLag, Seq.empty)
    sums.select(expr(s"stack($maxLag, " + (1 to maxLag)
        .map(j => s"$j, __s$j / __ss").mkString(", ") + ") as (lag, acf)"))
      .select(col("lag").cast("int").as("lag"),
        round(col("acf"), 6).as("acf"))
      .orderBy("lag")
  }

  /** The one-row product-sums of [[acf]], [[ljungBox]] and [[pacf]]: `extra`
    * aggregates, then `__ss` = Σ(xₜ−x̄)² and `__sj` = Σ(xₜ−x̄)(xₜ₋ⱼ−x̄)
    * for lags j = 1..maxLag, over `series` ordered by `ordCol`.
    */
  private def lagSums(series: DataFrame, ordCol: String, valCol: String,
                      maxLag: Int, extra: Seq[Column]): DataFrame = {
    val x = col(valCol).cast("double")
    val base = series.select(col(ordCol).as("__o"), x.as("__x"))
    val m = base.agg(avg(col("__x")).as("__m"))
    val w = Window.orderBy("__o")
    val lagged = (1 to maxLag).foldLeft(
      base.crossJoin(broadcast(m))) { (df, j) =>
      df.withColumn(s"__l$j", lag(col("__x"), j).over(w))
    }
    val aggs = extra ++ (
      sum((col("__x") - col("__m")) * (col("__x") - col("__m")))
        .as("__ss") +: (1 to maxLag).map(j =>
      sum((col("__x") - col("__m")) * (col(s"__l$j") - col("__m")))
        .as(s"__s$j")))
    lagged.agg(aggs.head, aggs.tail: _*)
  }

  /** Upper 5% chi-square critical values for df 1..12 — the bounded
    * lookup the Ljung–Box readout compares against (a CDF evaluation
    * would drag in incomplete-gamma, which neither engine evaluates
    * correctly-rounded; fixed published constants are exact on both). */
  private val chi2Crit5: Seq[Double] = Seq(
    3.841459, 5.991465, 7.814728, 9.487729, 11.070498, 12.591587,
    14.06714, 15.507313, 16.918978, 18.307038, 19.675138, 21.02607)

  /** Ljung–Box portmanteau test — "is this series white noise, or does
    * autocorrelation survive up to lag h?": Q(h) = n(n+2) Σ_{j≤h}
    * ρ̂_j²/(n−j), compared per-lag against the 5% χ²(h) critical value.
    * The standard residual-whiteness check after any forecast fit
    * ([[acf]] shows the correlogram; this is its hypothesis test).
    *
    * Float discipline: the ρ̂_j come from the same global product-sums
    * as [[acf]] (bit-identical both engines on the pre-aggregated
    * series); the Σ over lags is a running window fold in PINNED lag
    * order; critical values are published constants, not a CDF call.
    *
    * Scale notes: identical shape to [[acf]] — one lag-window pass and
    * one scalar aggregate over the PRE-AGGREGATED series (days, not
    * events); the per-lag frame is maxLag-bounded.
    */
  def ljungBox(series: DataFrame, ordCol: String, valCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12,
      "ljungBox needs maxLag in 1..12 (bounded chi-square table)")
    val sums = lagSums(series, ordCol, valCol, maxLag,
      Seq(count(lit(1)).cast("double").as("__n")))
    val run = Window.orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crit = chi2Crit5.take(maxLag)
    sums.select(col("__n"),
        expr(s"stack($maxLag, " + (1 to maxLag)
          .map(j => s"$j, __s$j / __ss").mkString(", ") +
          ") as (lag, __rho)"))
      .withColumn("__term", col("__rho") * col("__rho") /
        (col("__n") - col("lag")))
      .withColumn("__q", col("__n") * (col("__n") + lit(2.0)) *
        sum(col("__term")).over(run))
      .withColumn("chi2_crit_5pct",
        element_at(array(crit.map(lit): _*), col("lag").cast("int")))
      .select(col("lag").cast("int").as("lag"),
        round(col("__rho"), 6).as("acf"),
        round(col("__q"), 6).as("q_stat"),
        col("chi2_crit_5pct"),
        (col("__q") > col("chi2_crit_5pct")).as("reject_white_noise"))
      .orderBy("lag")
  }

  /** Lag-1 Granger-causality screen between two aligned daily channels
    * — "does yesterday's X help predict today's Y beyond Y's own
    * history?": OLS of y_t on (1, y_{t−1}, x_{t−1}) vs the restricted
    * y_t on (1, y_{t−1}), F = (SSE_r − SSE_u) / (SSE_u / (n−3)).
    * Both channels standardize first (F is scale-invariant; the
    * moments stay conditioned); both fits are closed-form Cramer
    * solves over ONE 10-sum scalar aggregate, and each SSE is the
    * closed form syy − β·[sy, s1y, s2y] — no second data pass, no
    * optimizer. The 5% decision uses the asymptotic χ²(1)=F(1,∞)
    * critical value 3.841459 (documented as asymptotic; exact
    * finite-sample F quantiles would need an incomplete-beta neither
    * engine evaluates correctly-rounded).
    *
    * Scale shape: the [[adfTest]] family's — one lag window over the
    * PRE-AGGREGATED daily series, one scalar aggregate, everything
    * after is 1-row arithmetic.
    */
  def grangerLite(daily: DataFrame, ordCol: String, yCol: String,
                  xCol: String): DataFrame = {
    val my = daily.agg(avg(col(yCol).cast("double")).as("__my"),
      stddev_samp(col(yCol).cast("double")).as("__sy"),
      avg(col(xCol).cast("double")).as("__mx"),
      stddev_samp(col(xCol).cast("double")).as("__sx"))
    val w = Window.orderBy(col(ordCol))
    val z = daily.crossJoin(broadcast(my))
      .select(col(ordCol),
        ((col(yCol).cast("double") - col("__my")) / col("__sy"))
          .as("__zy"),
        ((col(xCol).cast("double") - col("__mx")) / col("__sx"))
          .as("__zx"))
      .withColumn("__y1", lag(col("__zy"), 1).over(w))
      .withColumn("__x1", lag(col("__zx"), 1).over(w))
      .where(col("__y1").isNotNull && col("__x1").isNotNull)
    val s = z.agg(count(lit(1)).cast("double").as("n"),
      sum(col("__y1")).as("s1"), sum(col("__x1")).as("s2"),
      sum(col("__zy")).as("sy"),
      sum(col("__y1") * col("__y1")).as("s11"),
      sum(col("__y1") * col("__x1")).as("s12"),
      sum(col("__x1") * col("__x1")).as("s22"),
      sum(col("__y1") * col("__zy")).as("s1y"),
      sum(col("__x1") * col("__zy")).as("s2y"),
      sum(col("__zy") * col("__zy")).as("syy"))
    val det = col("n") * (col("s11") * col("s22")
        - col("s12") * col("s12")) -
      col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val det0 = col("sy") * (col("s11") * col("s22")
        - col("s12") * col("s12")) -
      col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
      col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 = col("n") * (col("s1y") * col("s22")
        - col("s12") * col("s2y")) -
      col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
    val det2 = col("n") * (col("s11") * col("s2y")
        - col("s1y") * col("s12")) -
      col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
      col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val b0 = det0 / det
    val b1 = det1 / det
    val b2 = det2 / det
    val sseU = col("syy") - b0 * col("sy") - b1 * col("s1y") -
      b2 * col("s2y")
    val dr = col("n") * col("s11") - col("s1") * col("s1")
    val slr = (col("n") * col("s1y") - col("s1") * col("sy")) / dr
    val inr = (col("sy") - slr * col("s1")) / col("n")
    val sseR = col("syy") - inr * col("sy") - slr * col("s1y")
    val f = (sseR - sseU) / (sseU / (col("n") - lit(3.0)))
    s.select(col("n").cast("long").as("n"),
      round(when(det =!= 0.0, b1), 6).as("b_ylag"),
      round(when(det =!= 0.0, b2), 6).as("b_xlag"),
      round(when(det =!= 0.0, sseU), 6).as("sse_u"),
      round(when(dr =!= 0.0, sseR), 6).as("sse_r"),
      round(when(det =!= 0.0 && dr =!= 0.0 && sseU > 0.0, f), 6)
        .as("f_stat"),
      (when(det =!= 0.0 && dr =!= 0.0 && sseU > 0.0, f)
        > lit(3.841459)).as("x_granger_causes_y"))
  }

  /** Exponentially weighted moving average per key (pandas
    * `ewm(alpha, adjust=False)` recursion: y₀ = x₀,
    * yₜ = α·xₜ + (1−α)·yₜ₋₁) — the smoother behind every "trend line"
    * read of a noisy daily metric, and the engine-side twin of the
    * incremental-state streaming aggregations.
    *
    * The recursion is inherently sequential PER KEY, so each key's series
    * is collected into one sorted array and folded with the `aggregate`
    * higher-order function, then exploded back to rows — state is bounded
    * by the series length (days per key), never the corpus; keys process
    * in parallel. For multi-year daily series that is thousands of
    * elements per key, not millions. The fold appends to an accumulator
    * array (quadratic in series length from array copies — acceptable to
    * a few thousand points; beyond that, window the series first).
    * Requires non-NULL (ord, val) rows — filter first.
    */
  def ewma(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
           alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "ewma needs alpha in (0, 1]")
    val seq = df
      .where(col(ordCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"),
        struct(col(ordCol).as("o"), col(valCol).cast("double").as("v"))
          .as("__p"))
      .groupBy("__k")
      .agg(sort_array(collect_list(col("__p"))).as("__seq"))
    val folded = seq.withColumn("__acc", expr(
      s"""aggregate(__seq,
         |  cast(array() as array<struct<o: ${df.schema(ordCol).dataType.sql},
         |                               v: double, e: double>>),
         |  (acc, x) -> acc || array(named_struct('o', x.o, 'v', x.v,
         |    'e', CASE WHEN size(acc) = 0 THEN x.v
         |              ELSE $alpha * x.v
         |                   + ${1.0 - alpha} * element_at(acc, -1).e
         |         END)))""".stripMargin))
    folded
      .select(col("__k").as(keyCol), explode(col("__acc")).as("__r"))
      .select(col(keyCol), col("__r.o").as(ordCol),
        col("__r.v").as(valCol), round(col("__r.e"), 6).as("ewma"))
      .orderBy(keyCol, ordCol)
  }

  /** Holt's linear-trend double exponential smoothing per key, plus the
    * h-step-ahead forecasts from the final state — the trend-aware upgrade
    * of [[ewma]] and the query-engine cousin of [[Models.fitAr]]'s
    * fit→forecast loop: l₁ = x₁, b₁ = 0; lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁);
    * bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁; ŷ(T+h) = l_T + h·b_T.
    *
    * Same distributed shape as [[ewma]] (the recursion is sequential PER
    * KEY, so each key's bounded daily series folds in one `aggregate` HOF
    * — state scales with days-per-key, keys in parallel; the same
    * array-append quadratic caveat applies past a few thousand points).
    * lₜ appears textually twice inside the fold (also inside bₜ) so the
    * DuckDB recursive-CTE oracle can spell the identical IEEE expression;
    * α/β default to dyadic values so every coefficient is binary-exact.
    * Requires non-NULL (ord, val) rows — filter first.
    */
  def holtForecast(df: DataFrame, keyCol: String, ordCol: String,
                   valCol: String, alpha: Double = 0.5, beta: Double = 0.25,
                   horizons: Int = 3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "holt needs alpha in (0, 1]")
    require(beta > 0.0 && beta <= 1.0, "holt needs beta in (0, 1]")
    require(horizons >= 1 && horizons <= 12, "holt needs 1 <= horizons <= 12")
    val seq = df
      .where(col(ordCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"),
        struct(col(ordCol).as("o"), col(valCol).cast("double").as("v"))
          .as("__p"))
      .groupBy("__k")
      .agg(sort_array(collect_list(col("__p"))).as("__seq"))
    val lNew = s"$alpha * x.v + ${1.0 - alpha} * " +
      "(element_at(acc, -1).l + element_at(acc, -1).b)"
    val folded = seq.withColumn("__acc", expr(
      s"""aggregate(__seq,
         |  cast(array() as array<struct<l: double, b: double>>),
         |  (acc, x) -> acc || array(CASE WHEN size(acc) = 0
         |    THEN named_struct('l', x.v, 'b', cast(0.0 as double))
         |    ELSE named_struct(
         |      'l', $lNew,
         |      'b', $beta * (($lNew) - element_at(acc, -1).l)
         |           + ${1.0 - beta} * element_at(acc, -1).b) END))"""
        .stripMargin))
    val base = folded.select(col("__k").as(keyCol),
      col("__seq")(size(col("__seq")) - 1).getField("o").as("last_ord"),
      round(col("__acc")(size(col("__acc")) - 1).getField("l"), 6)
        .as("level"),
      round(col("__acc")(size(col("__acc")) - 1).getField("b"), 6)
        .as("trend"),
      col("__acc")(size(col("__acc")) - 1).getField("l").as("__l"),
      col("__acc")(size(col("__acc")) - 1).getField("b").as("__b"))
    (1 to horizons).foldLeft(base) { (d, h) =>
        d.withColumn(s"f$h", round(col("__l") + lit(h) * col("__b"), 6))
      }
      .drop("__l", "__b")
      .orderBy(keyCol)
  }

  /** Croston's method for INTERMITTENT demand (Croston '72 — the
    * spare-parts/long-tail-SKU forecaster; [[ewma]]/[[holtForecast]]
    * collapse toward zero on sparse series because the zeros drown the
    * signal): smooth demand SIZE z and demand INTERVAL p as two
    * separate exponential chains updated only ON demand rows, and
    * forecast the per-period rate z/p. Input rows are the demand
    * events themselves — one row per (key, date) with positive demand
    * (zero/negative rows are dropped; pre-aggregate to daily first) —
    * so no zero-filled calendar is ever materialized: the interval
    * q = days since the previous demand comes from a lag, which is
    * exactly why this shape scales (a 99%-zeros calendar never
    * exists).
    *
    * Init convention (documented, engine-mirrored): z₁ = x₁, p₁ = 1;
    * then zₜ = α·xₜ + (1−α)·zₜ₋₁, pₜ = α·qₜ + (1−α)·pₜ₋₁.
    *
    * Same distributed shape as [[ewma]]: the recursion is sequential
    * PER KEY, folded in one `aggregate` HOF over the key's bounded
    * demand-day array (keys in parallel; the DuckDB twin is a
    * recursive CTE spelling the identical IEEE expression — keep α
    * dyadic for binary-exact coefficients).
    */
  def crostonForecast(df: DataFrame, keyCol: String, dateCol: String,
                      valCol: String, alpha: Double = 0.25): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "croston needs alpha in (0, 1]")
    val w = Window.partitionBy("__k").orderBy("__o")
    val base = df
      .where(col(dateCol).isNotNull &&
        col(valCol).cast("double") > 0.0)
      .select(col(keyCol).as("__k"), col(dateCol).as("__o"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__q", coalesce(
        datediff(col("__o"), lag(col("__o"), 1).over(w))
          .cast("double"), lit(1.0)))
    val seq = base
      .select(col("__k"), struct(col("__o").as("o"), col("__v").as("v"),
        col("__q").as("q")).as("__p"))
      .groupBy("__k")
      .agg(sort_array(collect_list(col("__p"))).as("__seq"))
    val oTpe = df.schema(dateCol).dataType.sql
    val zNew = s"$alpha * x.v + ${1.0 - alpha} * element_at(acc, -1).z"
    val pNew = s"$alpha * x.q + ${1.0 - alpha} * element_at(acc, -1).p"
    val folded = seq.withColumn("__acc", expr(
      s"""aggregate(__seq,
         |  cast(array() as array<struct<o: $oTpe, v: double,
         |                               q: double, z: double,
         |                               p: double>>),
         |  (acc, x) -> acc || array(CASE WHEN size(acc) = 0
         |    THEN named_struct('o', x.o, 'v', x.v, 'q', x.q,
         |      'z', x.v, 'p', cast(1.0 as double))
         |    ELSE named_struct('o', x.o, 'v', x.v, 'q', x.q,
         |      'z', $zNew, 'p', $pNew) END))""".stripMargin))
    folded
      .select(col("__k").as(keyCol), explode(col("__acc")).as("__r"))
      .select(col(keyCol), col("__r.o").as(dateCol),
        col("__r.v").as("demand"),
        col("__r.q").cast("long").as("interval_days"),
        round(col("__r.z"), 6).as("smoothed_demand"),
        round(col("__r.p"), 6).as("smoothed_interval"),
        round(col("__r.z") / col("__r.p"), 6).as("forecast_rate"))
      .orderBy(keyCol, dateCol)
  }

  /** Causal-impact-lite (Brodersen et al.'s CausalImpact reduced to
    * its closed-form core): fit y ~ a + b·x on PRE-intervention days
    * (y = the treated series, x = an untreated control series), project
    * the counterfactual over the post period, and report per-day
    * pointwise effects plus the PINNED cumulative effect and the
    * relative lift — "what did the launch actually add, net of what
    * the control says would have happened anyway".
    *
    * Determinism: the OLS is the [[graft.ops.Stats.groupedOls]]
    * closed form over one pre-period moment scalar; predictions are
    * single-expression; the cumulative effect folds in PINNED day
    * order; round(6) everywhere at the edge.
    *
    * Scale shape: one scalar aggregate over the PRE-AGGREGATED daily
    * series; the output frame is post-days-bounded.
    */
  def causalImpact(daily: DataFrame, ordCol: String, yCol: String,
                   xCol: String, intervention: String): DataFrame = {
    val cut = lit(intervention).cast("date")
    val y = col(yCol).cast("double")
    val x = col(xCol).cast("double")
    val pre = daily.where(col(ordCol) < cut)
    val fit = broadcast(pre.agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"))
      .select(col("n"),
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0.0,
          (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")))
          .as("b"),
        col("sx"), col("sy"))
      .select(col("n"), col("b"),
        ((col("sy") - col("b") * col("sx")) / col("n")).as("a")))
    val pin = Window.orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily.where(col(ordCol) >= cut)
      .crossJoin(fit)
      .withColumn("__pred", col("a") + col("b") * x)
      .withColumn("__eff", y - col("__pred"))
      .withColumn("__cum", sum(col("__eff")).over(pin))
      .withColumn("__sp", sum(col("__pred")).over(full))
      .withColumn("__sa", sum(y).over(full))
      .select(col(ordCol),
        round(y, 6).as("actual"),
        round(col("__pred"), 6).as("counterfactual"),
        round(col("__eff"), 6).as("effect"),
        round(col("__cum"), 6).as("cum_effect"),
        round(when(col("__sp") =!= 0.0,
          (col("__sa") - col("__sp")) / col("__sp")), 6)
          .as("relative_effect"))
      .orderBy(ordCol)
  }

  /** Hierarchical forecast reconciliation (top-down proportional — the
    * Hyndman coherence fix): per-key [[holtForecast]] children plus a
    * TOTAL-series forecast, then each child horizon is rescaled by
    * (total forecast / Σ child forecasts) so the children SUM to the
    * aggregate forecast — the property every planning rollup silently
    * assumes and independent per-series fits silently violate.
    * Output: one row per (key, horizon) with the base and reconciled
    * forecasts and the shared total.
    *
    * Determinism: child/total forecasts come back 6-rounded (cross-
    * engine exact) from the Holt fold; the Σ over children folds in
    * PINNED key order per horizon; the rescale is single-expression.
    *
    * Scale shape: [[holtForecast]]'s per-key bounded folds plus one
    * ord-keyed total rollup; the reconciliation frame is
    * keys×horizons-bounded.
    */
  def reconcileForecasts(daily: DataFrame, keyCol: String,
                         ordCol: String, valCol: String,
                         horizons: Int = 3, alpha: Double = 0.5,
                         beta: Double = 0.25): DataFrame = {
    val child = holtForecast(daily, keyCol, ordCol, valCol, alpha,
      beta, horizons)
    val totSeries = daily
      .groupBy(col(ordCol))
      .agg(round(sum(col(valCol)), 2).as("__tv"))
      .select(lit("TOTAL").as("__tk"), col(ordCol), col("__tv"))
    val tot = holtForecast(totSeries, "__tk", ordCol, "__tv", alpha,
      beta, horizons)
    def long(df: DataFrame, k: String): DataFrame =
      df.select(col(k), expr(s"stack($horizons, " + (1 to horizons)
        .map(h => s"$h, f$h").mkString(", ") + ") as (h, f)"))
    val totL = broadcast(long(tot, "__tk")
      .select(col("h"), col("f").as("__tf")))
    val pin = Window.partitionBy("h").orderBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    long(child, keyCol)
      .join(totL, Seq("h"))
      .withColumn("__s", sum(col("f")).over(pin))
      .select(col(keyCol), col("h").cast("int").as("horizon"),
        col("f").as("base_forecast"),
        col("__tf").as("total_forecast"),
        round(when(col("__s") =!= 0.0,
          col("f") * (col("__tf") / col("__s"))), 6).as("reconciled"))
      .orderBy(keyCol, "horizon")
  }

  /** Per key `__k`, the non-NULL (o, v) observations as one array
    * `__seq` sorted by `o`: the input of every Holt-Winters fold.
    */
  private def hwSeries(df: DataFrame, keyCol: String, ordCol: String,
                       valCol: String): DataFrame =
    df
      .where(col(ordCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"),
        struct(col(ordCol).as("o"), col(valCol).cast("double").as("v"))
          .as("__p"))
      .groupBy("__k")
      .agg(sort_array(collect_list(col("__p"))).as("__seq"))

  /** The additive Holt-Winters recursion as one SQL fold over `__seq`,
    * keeping every (l, b, s) state. Each smoothing coefficient comes as
    * its SQL text and its complement's. `phi` prefixes every read of the
    * previous trend (empty: undamped). `withSse` adds `e`, the running
    * sum of squared one-step-ahead errors from the second observation.
    */
  private def hwFoldExpr(period: Int, alpha: (String, String),
                         beta: (String, String), gamma: (String, String),
                         phi: String = "", withSse: Boolean = false)
      : String = {
    // the zero-warm-up seasonal read, spelled once and inlined everywhere
    val sm = s"(CASE WHEN size(acc) >= $period " +
      s"THEN element_at(acc, -$period).s ELSE cast(0.0 as double) END)"
    val b = s"${phi}element_at(acc, -1).b"
    val lNew = s"${alpha._1} * (x.v - $sm) + ${alpha._2} * " +
      s"(element_at(acc, -1).l + $b)"
    val err = s"(x.v - (element_at(acc, -1).l + element_at(acc, -1).b " +
      s"+ $sm))"
    val (eType, eInit, eNext) =
      if (withSse) (", e: double", ", 'e', cast(0.0 as double)",
        s", 'e', element_at(acc, -1).e + $err * $err")
      else ("", "", "")
    s"""aggregate(__seq,
       |  cast(array() as array<struct<l: double, b: double, s: double$eType>>),
       |  (acc, x) -> acc || array(CASE WHEN size(acc) = 0
       |    THEN named_struct('l', x.v, 'b', cast(0.0 as double),
       |                      's', cast(0.0 as double)$eInit)
       |    ELSE named_struct(
       |      'l', $lNew,
       |      'b', ${beta._1} * (($lNew) - element_at(acc, -1).l)
       |           + ${beta._2} * $b,
       |      's', ${gamma._1} * (x.v - element_at(acc, -1).l
       |                     - $b)
       |           + ${gamma._2} * $sm$eNext) END))""".stripMargin
  }

  /** A fixed smoothing coefficient and its complement as SQL literals. */
  private def hwCoef(x: Double): (String, String) =
    (x.toString, (1.0 - x).toString)

  /** The output columns over a folded frame: key, last_ord, `extra`,
    * the rounded final level and trend, and the raw final state plus
    * history (`__l`, `__b`, `__a`) that [[hwForecast]] reads.
    */
  private def hwState(keyCol: String, extra: Seq[Column]): Seq[Column] =
    Seq(col("__k").as(keyCol),
      col("__seq")(size(col("__seq")) - 1).getField("o").as("last_ord")) ++
      extra ++ Seq(
      round(element_at(col("__acc"), -1).getField("l"), 6).as("level"),
      round(element_at(col("__acc"), -1).getField("b"), 6).as("trend"),
      element_at(col("__acc"), -1).getField("l").as("__l"),
      element_at(col("__acc"), -1).getField("b").as("__b"),
      col("__acc").as("__a"))

  /** Forecast columns f1..f`horizons`: ŷ(T+h) = l_T + trendWeight(h)·b_T
    * + s_{T+h−m}, ordered by key.
    */
  private def hwForecast(base: DataFrame, keyCol: String, period: Int,
                         horizons: Int,
                         trendWeight: Int => Column): DataFrame =
    (1 to horizons).foldLeft(base) { (d, h) =>
        // ŷ(T+h) needs s_{T+h−m} = the (m−h+1)-th seasonal from the end;
        // absent (series shorter than that) it reads 0, the same zero
        // warm-up convention the recursion uses
        val back = period - h + 1
        val sTerm = when(size(col("__a")) >= back,
          element_at(col("__a"), -back).getField("s"))
          .otherwise(lit(0.0))
        d.withColumn(s"f$h",
          round(col("__l") + trendWeight(h) * col("__b") + sTerm, 6))
      }
      .drop("__l", "__b", "__a")
      .orderBy(keyCol)

  /** Holt-Winters ADDITIVE-SEASONAL triple exponential smoothing per key,
    * plus h-step forecasts — the seasonal half of the reference's
    * forecasting surface (forecasting_dag.py:174-184) that [[holtForecast]]
    * leaves out:
    * lₜ = α(xₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁);
    * bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁;
    * sₜ = γ(xₜ − lₜ₋₁ − bₜ₋₁) + (1−γ)sₜ₋ₘ;
    * ŷ(T+h) = l_T + h·b_T + s_{T+h−m}  (h ≤ m).
    *
    * Closed-form initialization (no optimizer, so any engine replays it):
    * l₁ = x₁, b₁ = 0, and the seasonal state starts at ZERO — sₜ₋ₘ reads
    * as 0 until m observations exist, so the first season's deviations
    * charge the level and the seasonal indices warm up from the second
    * cycle (the query-engine analogue of statsmodels' heuristic init, not
    * a parity claim — its L-BFGS-fitted parameters are out of scope, the
    * SURVEY §7.3.5 boundary). Same distributed shape as [[holtForecast]]:
    * one sequential `aggregate` fold per key over the bounded daily
    * series, keys in parallel; the fold keeps the full (l, b, s) history,
    * so sₜ₋ₘ is `element_at(acc, -m)` — no seasonal ring buffer needed.
    * lₜ appears textually twice (inside bₜ) and sₜ₋ₘ three times, spelled
    * identically so the DuckDB recursive-CTE oracle (which carries the
    * last-m seasonals as a list) walks the same IEEE path; α/β/γ default
    * dyadic so every coefficient is binary-exact. Requires non-NULL
    * (ord, val) rows — filter first.
    */
  def holtWintersForecast(df: DataFrame, keyCol: String, ordCol: String,
                          valCol: String, period: Int = 7,
                          alpha: Double = 0.5, beta: Double = 0.25,
                          gamma: Double = 0.25, horizons: Int = 3)
      : DataFrame = {
    require(period >= 2 && period <= 53, "holt-winters needs 2 <= period <= 53")
    require(alpha > 0.0 && alpha <= 1.0, "holt-winters needs alpha in (0, 1]")
    require(beta > 0.0 && beta <= 1.0, "holt-winters needs beta in (0, 1]")
    require(gamma > 0.0 && gamma <= 1.0, "holt-winters needs gamma in (0, 1]")
    require(horizons >= 1 && horizons <= period,
      "holt-winters needs 1 <= horizons <= period (longer h reuses indices)")
    val folded = hwSeries(df, keyCol, ordCol, valCol).withColumn("__acc",
      expr(hwFoldExpr(period, hwCoef(alpha), hwCoef(beta), hwCoef(gamma))))
    hwForecast(folded.select(hwState(keyCol, Seq.empty): _*), keyCol,
      period, horizons, h => lit(h))
  }

  /** Theta-method forecast (Assimakopoulos & Nikolopoulos '00, the M3
    * competition winner) with the classic θ = 2 decomposition: the
    * series splits into its linear trend (the θ = 0 line) and the
    * double-curvature θ = 2 line z_t = 2x_t − (a + b·t); the trend is
    * extrapolated, the θ2 line is simple-exponentially smoothed (flat
    * forecast), and ŷ(T+h) = ½·(a + b·(T+h)) + ½·l_T. Captures
    * level + trend like Holt but with the trend estimated GLOBALLY by
    * OLS instead of recursively — the reason it won M3 on noisy
    * monthly series.
    *
    * Cross-engine discipline: the OLS moment sums accumulate in a
    * SEQUENTIAL per-key array fold (t is the fold index, so both
    * engines — the oracle uses pinned running windows — add in the
    * identical order); the fitted (a, b) round to 6 and the ROUNDED
    * values feed the θ2/SES fold (the rounded-model-params transport
    * rule), with dyadic α keeping the recursion binary-exact.
    *
    * Scale shape: one sort_array/collect_list per key + two sequential
    * folds over the bounded series — keys in parallel, the
    * [[holtForecast]] contract.
    */
  def thetaForecast(df: DataFrame, keyCol: String, ordCol: String,
                    valCol: String, alpha: Double = 0.5,
                    horizons: Int = 3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0 &&
      alpha * 1024 == math.rint(alpha * 1024),
      "thetaForecast needs dyadic alpha in (0, 1]")
    require(horizons >= 1 && horizons <= 12,
      "thetaForecast needs 1 <= horizons <= 12")
    val seq = df
      .where(col(ordCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"),
        struct(col(ordCol).as("o"), col(valCol).cast("double").as("v"))
          .as("__p"))
      .groupBy("__k")
      .agg(sort_array(collect_list(col("__p"))).as("__seq"))
    val sums = seq.withColumn("__s", expr(
      """aggregate(__seq,
        |  named_struct('n', cast(0 as bigint), 'st', cast(0.0 as double),
        |    'sx', cast(0.0 as double), 'stx', cast(0.0 as double),
        |    'stt', cast(0.0 as double)),
        |  (acc, p) -> named_struct(
        |    'n', acc.n + 1L,
        |    'st', acc.st + cast(acc.n + 1 as double),
        |    'sx', acc.sx + p.v,
        |    'stx', acc.stx + cast(acc.n + 1 as double) * p.v,
        |    'stt', acc.stt + cast(acc.n + 1 as double)
        |           * cast(acc.n + 1 as double)))""".stripMargin))
    val nD = col("__s.n").cast("double")
    val den = nD * col("__s.stt") - col("__s.st") * col("__s.st")
    val fitted = sums
      .withColumn("__b", round(when(den =!= 0.0,
        (nD * col("__s.stx") - col("__s.st") * col("__s.sx")) / den), 6))
      .withColumn("__a", round(
        (col("__s.sx") - col("__b") * col("__s.st")) / nD, 6))
      .where(col("__b").isNotNull)
    val z = s"(2 * p.v - (__a + __b * cast(acc.i + 1 as double)))"
    val ses = fitted.withColumn("__l", expr(
      s"""aggregate(__seq,
         |  named_struct('i', cast(0 as bigint), 'l', cast(0.0 as double)),
         |  (acc, p) -> named_struct(
         |    'i', acc.i + 1L,
         |    'l', CASE WHEN acc.i = 0 THEN $z
         |         ELSE $alpha * $z + ${1.0 - alpha} * acc.l END),
         |  st -> st.l)""".stripMargin))
    val base = ses.select(col("__k").as(keyCol),
      col("__seq")(size(col("__seq")) - 1).getField("o").as("last_ord"),
      col("__s.n").as("n"),
      col("__a").as("intercept"), col("__b").as("slope"),
      round(col("__l"), 6).as("ses_level"),
      col("__l").as("__lraw"), col("__s.n").cast("double").as("__nd"))
    (1 to horizons).foldLeft(base) { (d, h) =>
        d.withColumn(s"f$h", round(
          lit(0.5) * (col("intercept") +
            col("slope") * (col("__nd") + lit(h.toDouble))) +
            lit(0.5) * col("__lraw"), 6))
      }
      .drop("__lraw", "__nd")
      .orderBy(keyCol)
  }

  /** DAMPED-trend Holt-Winters (Gardner & McKenzie) — the long-horizon
    * fix for [[holtWintersForecast]]'s linear trend extrapolation: an
    * un-damped trend walks off to ±∞ with h, which is why damping is
    * the default in every production forecast package (statsmodels
    * `damped_trend=True`, the M-competition winners). The trend decays
    * by φ per step:
    * lₜ = α(xₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + φbₜ₋₁);
    * bₜ = β(lₜ − lₜ₋₁) + (1−β)φbₜ₋₁;
    * sₜ = γ(xₜ − lₜ₋₁ − φbₜ₋₁) + (1−γ)sₜ₋ₘ;
    * ŷ(T+h) = l_T + (φ + φ² + … + φʰ)·b_T + s_{T+h−m}.
    * φ = 1 recovers the un-damped form exactly.
    *
    * Same zero-warm-up initialization, fold shape, and cross-engine
    * discipline as [[holtWintersForecast]] (dyadic α/β/γ AND φ — the
    * default 0.875 = 7/8 keeps every coefficient product and φ-power
    * partial sum binary-exact, so the forecast multipliers are exact
    * literals both engines share).
    */
  def holtWintersDamped(df: DataFrame, keyCol: String, ordCol: String,
                        valCol: String, period: Int = 7,
                        alpha: Double = 0.5, beta: Double = 0.25,
                        gamma: Double = 0.25, phi: Double = 0.875,
                        horizons: Int = 3): DataFrame = {
    require(period >= 2 && period <= 53,
      "holt-winters needs 2 <= period <= 53")
    require(alpha > 0.0 && alpha <= 1.0, "needs alpha in (0, 1]")
    require(beta > 0.0 && beta <= 1.0, "needs beta in (0, 1]")
    require(gamma > 0.0 && gamma <= 1.0, "needs gamma in (0, 1]")
    require(phi > 0.0 && phi <= 1.0 &&
      phi * 1024 == math.rint(phi * 1024),
      "needs phi a dyadic multiple of 2^-10 in (0, 1]")
    require(horizons >= 1 && horizons <= period,
      "needs 1 <= horizons <= period")
    val folded = hwSeries(df, keyCol, ordCol, valCol).withColumn("__acc",
      expr(hwFoldExpr(period, hwCoef(alpha), hwCoef(beta), hwCoef(gamma),
        phi = s"$phi * ")))
    // φ + φ² + … + φʰ as exact dyadic partial sums (products and sums
    // of dyadics are dyadic; both engines get the identical literal)
    val phiSums = (1 to horizons).scanLeft((0.0, 1.0)) {
      case ((acc, pw), _) => (acc + pw * phi, pw * phi)
    }.tail.map(_._1)
    hwForecast(folded.select(hwState(keyCol, Seq.empty): _*), keyCol,
      period, horizons, h => lit(phiSums(h - 1)))
  }

  /** Auto Holt-Winters: [[holtWintersForecast]] with the smoothing
    * parameters SELECTED per key from a fixed dyadic candidate grid by
    * one-step-ahead SSE — the engine-side analogue of the reference's
    * `auto_arima` order search (forecasting_dag.py:142-153): a bounded
    * deterministic model-selection loop, not an L-BFGS fit (that stays
    * the SURVEY §7.3.5 boundary, the same honesty contract as
    * `adfTestAutolag`'s fixed 0..2 lag grid).
    *
    * Every candidate folds in the same plan: the per-key series array
    * cross-joins the |grid|-row broadcast candidate frame, ONE
    * `aggregate` fold per (key, candidate) carries (l, b, s, sse) — sse
    * accumulates (xₜ − (lₜ₋₁ + bₜ₋₁ + sₜ₋ₘ))² from the second
    * observation, the first charges nothing — and a per-key
    * (sse, candidate) window argmin keeps the winner. Dyadic candidates
    * keep every coefficient binary-exact, so both engines walk identical
    * IEEE recursions and the argmin cannot diverge; the tie-break is the
    * candidate id. Work = |grid| sequential folds per key, keys in
    * parallel — the bounded-series contract of [[holtForecast]].
    */
  def holtWintersAuto(df: DataFrame, keyCol: String, ordCol: String,
                      valCol: String, period: Int = 7,
                      candidates: Seq[(Double, Double, Double)] =
                        for (a <- Seq(0.25, 0.5, 0.75);
                             b <- Seq(0.125, 0.25);
                             g <- Seq(0.25, 0.5)) yield (a, b, g),
                      horizons: Int = 3): DataFrame = {
    require(period >= 2 && period <= 53, "holt-winters needs 2 <= period <= 53")
    require(candidates.nonEmpty && candidates.size <= 64,
      "holtWintersAuto needs 1..64 candidate triples")
    require(candidates.forall { case (a, b, g) =>
      Seq(a, b, g).forall(x => x > 0.0 && x <= 1.0 &&
        x * 1024 == math.rint(x * 1024)) },
      "candidates must be dyadic (k/1024) in (0, 1] so both engines " +
        "fold binary-exact coefficients")
    require(horizons >= 1 && horizons <= period,
      "holt-winters needs 1 <= horizons <= period")
    val spark = df.sparkSession
    import spark.implicits._
    val grid = candidates.zipWithIndex
      .map { case ((a, b, g), i) => (i, a, b, g) }
      .toDF("__cand", "__al", "__be", "__ga")
    val seq = hwSeries(df, keyCol, ordCol, valCol)
      .crossJoin(broadcast(grid))
    val folded = seq.withColumn("__acc", expr(hwFoldExpr(period,
      ("__al", "(1.0D - __al)"), ("__be", "(1.0D - __be)"),
      ("__ga", "(1.0D - __ga)"), withSse = true)))
    val win = Window.partitionBy(col("__k"))
      .orderBy(element_at(col("__acc"), -1).getField("e"), col("__cand"))
    val base = folded
      .withColumn("__rk", row_number().over(win))
      .filter(col("__rk") === 1)
      .select(hwState(keyCol, Seq(
        col("__al").as("alpha"), col("__be").as("beta"),
        col("__ga").as("gamma"),
        round(element_at(col("__acc"), -1).getField("e"), 4).as("sse"))): _*)
    hwForecast(base, keyCol, period, horizons, h => lit(h))
  }

  /** Rolling Pearson correlation of two aligned series over a trailing
    * k-row window — the co-movement monitor ([[ccf]] gives the global
    * lead/lag picture; this shows WHEN the coupling holds): corr from
    * the six windowed moment sums, NULL while the window is shorter than
    * `minPeriods` or either variance is zero. One ordered window over
    * the PRE-AGGREGATED series frame (the [[acf]] bounded-domain
    * contract), all sums sharing one frame definition.
    */
  def rollingCorrelation(df: DataFrame, ordCol: String, xCol: String,
                         yCol: String, windowRows: Int,
                         minPeriods: Int): DataFrame = {
    require(windowRows >= 2 && minPeriods >= 2 && minPeriods <= windowRows,
      "rollingCorrelation needs 2 <= minPeriods <= windowRows")
    val w = Window.orderBy(col(ordCol))
      .rowsBetween(-(windowRows - 1), 0)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    // a NULL x or y would desync the windowed count from the windowed
    // sums (count counts rows, sum skips NULLs) and silently skew the
    // correlation — drop incomplete rows up front
    val base = df
      .where(x.isNotNull && y.isNotNull)
      .withColumn("__n", count(lit(1)).over(w).cast("double"))
      .withColumn("__sx", sum(x).over(w))
      .withColumn("__sy", sum(y).over(w))
      .withColumn("__sxx", sum(x * x).over(w))
      .withColumn("__syy", sum(y * y).over(w))
      .withColumn("__sxy", sum(x * y).over(w))
    val vx = base("__n") * base("__sxx") - base("__sx") * base("__sx")
    val vy = base("__n") * base("__syy") - base("__sy") * base("__sy")
    val cv = base("__n") * base("__sxy") - base("__sx") * base("__sy")
    base
      .select(col(ordCol), col(xCol), col(yCol),
        round(when(col("__n") >= minPeriods && vx > 0.0 && vy > 0.0,
          cv / (sqrt(vx) * sqrt(vy))), 6).as("rolling_corr"))
      .orderBy(ordCol)
  }

  /** Partial autocorrelation (Durbin-Levinson) at lags 1..3 — the AR-order
    * diagnostic read next to [[acf]] when picking p for [[Models.fitAr]]:
    * pacf(k) is the lag-k coefficient after the shorter lags are partialed
    * out, so a series that is truly AR(p) shows pacf ≈ 0 beyond p.
    *
    * Same distributed shape as [[acf]] (one bounded-series window for the
    * lag columns, one scalar aggregate for the moment sums); the recursion
    * itself is a fixed closed-form chain over the 1-row sums frame —
    * Durbin-Levinson unrolled for k ≤ 3 — evaluated in a deterministic
    * operand order the oracle mirrors textually, so both engines walk the
    * identical IEEE path. Rounding to 6 happens only at the end.
    */
  def pacf(series: DataFrame, ordCol: String, valCol: String): DataFrame = {
    lagSums(series, ordCol, valCol, 3, Seq.empty)
      .withColumn("__r1", col("__s1") / col("__ss"))
      .withColumn("__r2", col("__s2") / col("__ss"))
      .withColumn("__r3", col("__s3") / col("__ss"))
      .withColumn("__p1", col("__r1"))
      .withColumn("__v1", lit(1.0) - col("__r1") * col("__r1"))
      .withColumn("__p2",
        (col("__r2") - col("__r1") * col("__r1")) / col("__v1"))
      .withColumn("__p21", col("__r1") - col("__p2") * col("__r1"))
      .withColumn("__v2",
        col("__v1") * (lit(1.0) - col("__p2") * col("__p2")))
      .withColumn("__p3",
        (col("__r3") - col("__p21") * col("__r2")
          - col("__p2") * col("__r1")) / col("__v2"))
      .select(expr("stack(3, 1, __p1, 2, __p2, 3, __p3) as (lag, pacf)"))
      .select(col("lag").cast("int").as("lag"),
        round(col("pacf"), 6).as("pacf"))
      .orderBy("lag")
  }

  /** Sample cross-correlation between two aligned series at lags
    * -maxLag..maxLag: ccf(k) = Σₜ (xₜ−mx)·(yₜ₊ₖ−my) / √(ssx·ssy), with
    * each series' mean and sum-of-squares taken over its own full domain
    * (the statsmodels convention, up to the overlap-window numerator that
    * date-gapped series force).
    *
    * One equi-join carries ALL lags: the x side explodes the (2·maxLag+1)
    * lag offsets and joins y on the shifted date — join fan-out is the lag
    * count, never the series length squared. The four scalar moments ride
    * as broadcast 1-row frames. Per-lag products collapse in one grouped
    * aggregate keyed by the bounded lag domain.
    */
  def ccf(xs: DataFrame, ys: DataFrame, ordCol: String, valCol: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, "ccf needs maxLag >= 1")
    val a = xs.select(col(ordCol).as("__o"),
      col(valCol).cast("double").as("__x"))
    val b = ys.select(col(ordCol).as("__o2"),
      col(valCol).cast("double").as("__y"))
    val ma = a.agg(avg(col("__x")).as("__mx"))
    val mb = b.agg(avg(col("__y")).as("__my"))
    val sa = a.crossJoin(broadcast(ma))
      .agg(sum((col("__x") - col("__mx")) * (col("__x") - col("__mx")))
        .as("__ssx"))
    val sb = b.crossJoin(broadcast(mb))
      .agg(sum((col("__y") - col("__my")) * (col("__y") - col("__my")))
        .as("__ssy"))
    a.select(col("__o"), col("__x"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .withColumn("__j", date_add(col("__o"), col("lag")))
      .join(b, col("__j") === col("__o2"))
      .crossJoin(broadcast(ma)).crossJoin(broadcast(mb))
      .groupBy(col("lag"))
      .agg(sum((col("__x") - col("__mx")) * (col("__y") - col("__my")))
        .as("__num"))
      .crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("lag").cast("int").as("lag"),
        round(col("__num") / sqrt(col("__ssx") * col("__ssy")), 6)
          .as("ccf"))
      .orderBy("lag")
  }

  /** Seasonality / trend strength (Hyndman & Athanasopoulos FPP §4.5):
    * F_s = max(0, 1 − var(resid)/var(seasonal + resid)) and
    * F_t = max(0, 1 − var(resid)/var(trend + resid)) over the
    * [[seasonalDecompose]] components — the one-number answers to "is
    * this series actually seasonal / trending, and how strongly" that
    * decide whether the seasonal models ([[holtWintersForecast]]) are
    * worth their state. Computed over the trend-defined rows only (the
    * decomposition's edge rows carry NULL trend); components enter at
    * their published 6-decimal rounding so both engines aggregate
    * identical inputs, and the variances are one scalar aggregate.
    */
  def seasonalityStrength(daily: DataFrame, dateCol: String,
                          valCol: String, period: Int): DataFrame = {
    val dec = seasonalDecompose(daily, dateCol, valCol, period)
      .where(col("resid").isNotNull)
    dec.agg(count(lit(1)).as("n"),
        var_samp(col("resid")).as("__vr"),
        var_samp(col("seasonal") + col("resid")).as("__vsr"),
        var_samp(col("trend") + col("resid")).as("__vtr"))
      .select(col("n"),
        round(when(col("__vsr") > 0.0, greatest(lit(0.0),
          lit(1.0) - col("__vr") / col("__vsr"))), 6)
          .as("seasonal_strength"),
        round(when(col("__vtr") > 0.0, greatest(lit(0.0),
          lit(1.0) - col("__vr") / col("__vtr"))), 6)
          .as("trend_strength"))
  }

  /** Rolling-origin one-step backtest of the three baseline forecasters
    * every model must beat — naive (last value), seasonal naive (value
    * one season back), trailing moving average — with MAE, RMSE and
    * MASE per (key, method). MASE (Hyndman & Koehler '06) scales each
    * method's MAE by the seasonal-naive MAE on the SAME rows, so values
    * < 1 mean "beats the obvious baseline" across series of different
    * magnitude; snaive itself reports exactly 1.
    *
    * Scale shape: ONE key-partitioned window pass produces all three
    * predictions as CALENDAR-anchored range frames over the integer day
    * number (leakage-safe, and correct on series with missing days —
    * see the inline note); only rows where ALL predictors are defined
    * score (common warmup, so the MASE denominator is computed on
    * identical rows); one groupBy(key) of nine error sums; output =
    * keys×3 rows. Pre-aggregate to a bounded per-key series first (the
    * [[Windows]] series discipline).
    */
  def backtestNaive(series: DataFrame, keyCol: String, timeCol: String,
                    valCol: String, season: Int = 7,
                    maWindow: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(season >= 1 && maWindow >= 1,
      "backtestNaive needs season >= 1 and maWindow >= 1")
    // CALENDAR-anchored frames, not row lags: on a series with missing
    // days a row-based lag(v, season) pairs day D with the season-th
    // PRIOR PRESENT row — a different weekday — silently corrupting the
    // snaive baseline and every MASE scaled by it. Range frames over
    // the integer day number fetch "the value exactly 1 / season days
    // back" (or nothing), and the full-maWindow count filter keeps the
    // common-warmup discipline: only rows where ALL predictors exist
    // on the calendar score.
    val dayNum = datediff(col("__t"), lit("1970-01-01").cast("date"))
      .cast("long")
    def at(off: Int) = Window.partitionBy("__k").orderBy(col("__d"))
      .rangeBetween(-off, -off)
    val ma = Window.partitionBy("__k").orderBy(col("__d"))
      .rangeBetween(-maWindow, -1)
    val scored = series
      .select(col(keyCol).as("__k"), col(timeCol).as("__t"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__d", dayNum)
      .withColumn("__naive", max(col("__v")).over(at(1)))
      .withColumn("__snaive", max(col("__v")).over(at(season)))
      .withColumn("__ma", avg(col("__v")).over(ma))
      .withColumn("__nma", count(col("__v")).over(ma))
      .where(col("__naive").isNotNull && col("__snaive").isNotNull &&
        col("__nma") === maWindow)
    def errs(p: String) = Seq(
      sum(abs(col("__v") - col(p))).as(s"__ae$p"),
      sum((col("__v") - col(p)) * (col("__v") - col(p))).as(s"__se$p"))
    val agg = scored.groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        errs("__naive") ++ errs("__snaive") ++ errs("__ma"): _*)
    val methods = Seq("naive" -> "__naive", "snaive" -> "__snaive",
      "moving_avg" -> "__ma")
    methods.map { case (name, p) =>
      agg.select(col("__k").as(keyCol), lit(name).as("method"), col("n"),
        round(col(s"__ae$p") / col("n"), 6).as("mae"),
        round(sqrt(col(s"__se$p") / col("n")), 6).as("rmse"),
        round((col(s"__ae$p") / col("n")) /
          (col("__ae__snaive") / col("n")), 6).as("mase"))
    }.reduce(_.unionByName(_))
      .orderBy(keyCol, "method")
  }

  /** Split-conformal one-step forecast intervals per key (Vovk's
    * conformal prediction, the distribution-free interval every
    * forecasting pipeline should ship instead of Gaussian ±2σ): the
    * calendar-anchored naive backtest ([[backtestNaive]]'s leakage-safe
    * frame) yields per-key absolute residuals |v_t − v_{t−1}|; the
    * conformal radius is the k-th smallest with
    * k = ⌈(n+1)(1−alpha)⌉ — an ORDER STATISTIC, so the marginal
    * coverage ≥ 1−alpha holds under exchangeability with NO
    * distributional assumption; the published interval is
    * last_value ± q_hat.
    *
    * `alpha` must be dyadic (0.25, 0.125…): ⌈(n+1)(1−alpha)⌉ is then
    * the same integer whether the multiply runs in IEEE double (Spark)
    * or decimal (DuckDB) — the cross-engine ceil discipline. Keys where
    * k > n (alpha too small for the calibration count) are dropped.
    *
    * Scale shape: the residual frame is one key-partitioned
    * calendar-range window pass; the order statistic is a key-
    * partitioned rank over the per-key calendar-bounded residuals —
    * never a global sort; the final join assembles keys-bounded frames.
    * Output: one row per key — n_cal, q_hat, forecast (last observed),
    * lo, hi, coverage (in-sample fraction |e| ≤ q_hat, ≥ 1−alpha by
    * construction).
    */
  def conformalInterval(series: DataFrame, keyCol: String,
                        timeCol: String, valCol: String,
                        alpha: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1 &&
      alpha * 1024 == math.rint(alpha * 1024),
      s"conformalInterval needs a dyadic alpha in (0, 1), got $alpha")
    val dayNum = datediff(col("__t"), lit("1970-01-01").cast("date"))
      .cast("long")
    val at1 = Window.partitionBy("__k").orderBy(col("__d"))
      .rangeBetween(-1, -1)
    val base = series
      .select(col(keyCol).as("__k"), col(timeCol).as("__t"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__d", dayNum)
    val scored = base
      .withColumn("__naive", max(col("__v")).over(at1))
      .where(col("__naive").isNotNull)
      .withColumn("__ae", abs(col("__v") - col("__naive")))
    val nPer = scored.groupBy(col("__k")).agg(count(lit(1)).as("n_cal"))
      .withColumn("__kk",
        ceil((col("n_cal") + 1) * lit(1.0 - alpha)).cast("long"))
    val ranked = scored.join(nPer, Seq("__k"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__k").orderBy(col("__ae"), col("__t"))))
    val qhat = ranked.filter(col("__rk") === col("__kk"))
      .select(col("__k"), col("n_cal"), col("__ae").as("__q"))
    val lastV = base.groupBy(col("__k"))
      .agg(max(struct(col("__d"), col("__v"))).as("__m"))
      .select(col("__k"), col("__m.__v").as("__last"))
    val cov = scored.join(qhat.select(col("__k"), col("__q")), Seq("__k"))
      .groupBy(col("__k"))
      .agg((sum(when(col("__ae") <= col("__q"), 1L).otherwise(0L)) /
        count(lit(1))).as("__cov"))
    qhat.join(lastV, Seq("__k")).join(cov, Seq("__k"))
      .select(col("__k").as(keyCol), col("n_cal"),
        round(col("__q"), 6).as("q_hat"),
        col("__last").as("forecast"),
        round(col("__last") - col("__q"), 6).as("lo"),
        round(col("__last") + col("__q"), 6).as("hi"),
        round(col("__cov"), 6).as("coverage"))
      .orderBy(keyCol)
  }

  /** Hurst exponent by the aggregated-variance method — the long-
    * memory diagnostic the ADF/ACF pair doesn't give: for a self-
    * similar series, Var(mean of m-blocks) ~ m^(2H−2), so the OLS
    * slope of ln Var vs ln m over dyadic block sizes estimates
    * H = 1 + slope/2. H ≈ 0.5 is short-memory noise (persistence
    * models suffice), H → 1 is long-range dependence (seasonal/long-
    * horizon structure a [[holtWinters]]-class model should chase),
    * H < 0.5 is anti-persistent mean reversion.
    *
    * Determinism contract: the series values must be EXACT LONGS
    * (integer cents — the q_abc money rule), so block sums are exact,
    * Σs² is exact in decimal(38,0) (HUGEINT in the oracle; document
    * s² · blocks < 10³⁸ at scale), and each block-size variance is one
    * pinned float expression over exact integers. The ≤|blockSizes|
    * ln-ln OLS runs as pinned-order window folds (the Newman rule).
    * Block sizes with zero variance are excluded from the fit
    * (ln undefined — a constant series carries no scaling law), and if
    * fewer than 2 block sizes survive that filter the result is EMPTY
    * rather than a NaN fit: with ≥2 distinct surviving m the ln-m
    * abscissae are distinct so the OLS denominator k·Σx²−(Σx)² is
    * strictly positive; with ≤1 it is exactly 0 and the quotient would
    * silently publish NaN rows (a near-constant series has no
    * estimable scaling exponent — honest empty beats poisoned float).
    *
    * Scale shape: one row_number index over the DAYS-bounded series
    * (single-partition window — allowlisted, same class as every
    * calendar fold), then per block size one block-keyed groupBy and a
    * 1-row scalar agg; the regression runs over ≤ |blockSizes| rows.
    * Output: one row per fitted block size with the shared H estimate.
    */
  def hurstExponent(series: DataFrame, xCol: String, yCol: String,
                    blockSizes: Seq[Int] = Seq(1, 2, 4, 8, 16))
      : DataFrame = {
    require(blockSizes.size >= 3 && blockSizes.size <= 8 &&
      blockSizes.forall(_ >= 1) &&
      blockSizes.distinct.size == blockSizes.size,
      "hurstExponent fits 3..8 distinct block sizes")
    val base = series
      .where(col(yCol).isNotNull)
      .select(col(xCol).as("__x"), col(yCol).cast("long").as("__y"))
      .withColumn("__i",
        (row_number().over(Window.orderBy(col("__x"))) - 1).cast("long"))
      .localCheckpoint()
    val per = blockSizes.map { m =>
      val blocks = base
        .groupBy(floor(col("__i") / m).cast("long").as("__b"))
        .agg(count(lit(1)).as("__cnt"), sum(col("__y")).as("__s"))
        .where(col("__cnt") === m)
      blocks.agg(count(lit(1)).as("n_blocks"),
          sum(col("__s").cast("decimal(19,0)") *
            col("__s").cast("decimal(19,0)")).as("__ss2"),
          sum(col("__s")).as("__ss"))
        .select(lit(m).as("m"), col("n_blocks"),
          ((col("__ss2").cast("double") / col("n_blocks") -
            (col("__ss").cast("double") / col("n_blocks")) *
              (col("__ss").cast("double") / col("n_blocks"))) /
            (lit(m).cast("double") * lit(m))).as("__var"))
    }
    val wAll = Window.orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.reduce(_ unionAll _)
      .where(col("__var") > 0.0)
      .withColumn("__lx", log(col("m").cast("double")))
      .withColumn("__ly", log(col("__var")))
      .withColumn("__k", count(lit(1)).over(wAll).cast("double"))
      .where(col("__k") >= 2.0)
      .withColumn("__sx", sum(col("__lx")).over(wAll))
      .withColumn("__sy", sum(col("__ly")).over(wAll))
      .withColumn("__sxy", sum(col("__lx") * col("__ly")).over(wAll))
      .withColumn("__sxx", sum(col("__lx") * col("__lx")).over(wAll))
      .select(col("m"), col("n_blocks"),
        (round(col("__ly"), 6) + lit(0.0)).as("ln_var"),
        (round(lit(1.0) +
          ((col("__k") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__k") * col("__sxx") - col("__sx") * col("__sx"))) /
          lit(2.0), 6) + lit(0.0)).as("hurst"))
      .orderBy("m")
  }
}
