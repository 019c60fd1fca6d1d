package graft
package gates

import graft.ops.Windows
import Shared._

/** The gates whose plans call [[graft.ops.Windows]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object WindowsGates {
  val all: Seq[Gate] = Seq(
    Gate("q_running_total", (s, d) =>
      Windows.runningTotal(Tables.events(s, d)))(
      """SELECT event_id, user_id, value,
        |  round(sum(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS running
        |FROM events ORDER BY event_id""".stripMargin),
    Gate("q_twa", (s, d) => Windows.timeWeightedAvg(Tables.events(s, d)))(
      """WITH d AS (SELECT user_id, value,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS dt
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  round(sum(value * dt) / sum(dt), 6) AS twa
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Gate("q_anomalies", (s, d) =>
      Windows.rollingAnomalies(Tables.events(s, d), w = 7, k = 3.0))(
      """WITH r AS (SELECT event_id, user_id, value,
        |    avg(value) OVER w AS m, stddev_samp(value) OVER w AS s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value,
        |  round(m, 6) AS roll_mean, round(s, 6) AS roll_std
        |FROM r WHERE s IS NOT NULL AND abs(value - m) > 3.0 * s
        |ORDER BY event_id""".stripMargin),
    Gate("q_lag_features", (s, d) => Windows.lagFeatures(Tables.events(s, d)))(
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER w AS lag1,
        |  lag(value, 2) OVER w AS lag2,
        |  value - lag(value, 1) OVER w AS diff1
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),
    Gate("q_rolling", (s, d) => Windows.rollingFeatures(Tables.events(s, d), 7))(
      """SELECT event_id, user_id, value,
        |  round(avg(value) OVER f, 6) AS roll_mean,
        |  round(stddev_samp(value) OVER f, 6) AS roll_std,
        |  min(value) OVER f AS roll_min,
        |  max(value) OVER f AS roll_max
        |FROM events
        |WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin),
    Gate("q_chrono_split", (s, d) =>
      Windows.chronoSplitSummary(Tables.orders(s, d), 0.8))(
      """WITH t AS (
        |  SELECT o_orderdate,
        |    row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
        |    count(*) OVER () AS n
        |  FROM orders)
        |SELECT CASE WHEN rn <= floor(n * 0.8) THEN 'train' ELSE 'test' END
        |         AS split,
        |  count(*) AS n_rows,
        |  min(o_orderdate) AS first_date,
        |  max(o_orderdate) AS last_date
        |FROM t GROUP BY split ORDER BY split""".stripMargin),
    Gate("q_interpolate", (s, d) => {
      import org.apache.spark.sql.functions._
      val masked = Tables.events(s, d).withColumn("vm",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      Windows.interpolate(masked, "user_id", Seq("ts", "event_id"), "vm")
        .select(col("event_id"), col("user_id"), col("vm"), col("vm_interp"))
        .orderBy("event_id")
    })(
      """WITH m AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS vm
        |  FROM events),
        |b AS (
        |  SELECT event_id, user_id, vm,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS i
        |  FROM m),
        |w AS (
        |  SELECT event_id, user_id, vm, i,
        |    last_value(vm IGNORE NULLS) OVER bw AS pv,
        |    last_value(CASE WHEN vm IS NOT NULL THEN i END IGNORE NULLS)
        |      OVER bw AS pi,
        |    first_value(vm IGNORE NULLS) OVER fw AS nv,
        |    first_value(CASE WHEN vm IS NOT NULL THEN i END IGNORE NULLS)
        |      OVER fw AS ni
        |  FROM b
        |  WINDOW
        |    bw AS (PARTITION BY user_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    fw AS (PARTITION BY user_id ORDER BY i
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, vm,
        |  round(CASE WHEN vm IS NOT NULL THEN vm
        |             WHEN pv IS NULL THEN NULL
        |             WHEN nv IS NULL THEN pv
        |             ELSE pv + (nv - pv) *
        |               (CAST(i - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
        |        END, 6) AS vm_interp
        |FROM w ORDER BY event_id""".stripMargin),
    Gate("q_seasonal_decompose", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("observed"))
      Windows.seasonalDecompose(daily, "day", "observed", 7)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, avg(value) AS observed
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, observed,
        |    row_number() OVER w AS rn,
        |    count(observed) OVER cf AS cnt,
        |    avg(observed) OVER cf AS ctr_avg
        |  FROM daily
        |  WINDOW w AS (ORDER BY day),
        |    cf AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (
        |  SELECT day, observed,
        |    CASE WHEN cnt = 7 THEN ctr_avg END AS trend,
        |    observed - CASE WHEN cnt = 7 THEN ctr_avg END AS detrended,
        |    (rn - 1) % 7 AS phase
        |  FROM t),
        |pm AS (SELECT phase, avg(detrended) AS phase_mean FROM d GROUP BY phase),
        |sc AS (SELECT avg(phase_mean) AS season_center FROM pm)
        |SELECT d.day, round(d.observed, 6) AS observed,
        |  round(d.trend, 6) AS trend,
        |  round(pm.phase_mean - sc.season_center, 6) AS seasonal,
        |  round(d.observed - d.trend - (pm.phase_mean - sc.season_center), 6)
        |    AS resid
        |FROM d JOIN pm USING (phase) CROSS JOIN sc
        |ORDER BY d.day""".stripMargin),
    // FPP seasonality/trend strength over the same weekly decomposition
    // (variance ratios on the published 6-decimal components)
    // strength replay: the identical decomposition CTEs, then the FPP
    // variance ratios over the SAME rounded component columns
    Gate("q_season_strength", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("observed"))
      Windows.seasonalityStrength(daily, "day", "observed", 7)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, avg(value) AS observed
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, observed,
        |    row_number() OVER w AS rn,
        |    count(observed) OVER cf AS cnt,
        |    avg(observed) OVER cf AS ctr_avg
        |  FROM daily
        |  WINDOW w AS (ORDER BY day),
        |    cf AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (
        |  SELECT day, observed,
        |    CASE WHEN cnt = 7 THEN ctr_avg END AS trend,
        |    observed - CASE WHEN cnt = 7 THEN ctr_avg END AS detrended,
        |    (rn - 1) % 7 AS phase
        |  FROM t),
        |pm AS (SELECT phase, avg(detrended) AS phase_mean FROM d
        |       GROUP BY phase),
        |sc AS (SELECT avg(phase_mean) AS season_center FROM pm),
        |comp AS (
        |  SELECT round(d.trend, 6) AS trend,
        |    round(pm.phase_mean - sc.season_center, 6) AS seasonal,
        |    round(d.observed - d.trend
        |      - (pm.phase_mean - sc.season_center), 6) AS resid
        |  FROM d JOIN pm USING (phase) CROSS JOIN sc
        |  WHERE d.trend IS NOT NULL),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        var_samp(resid) AS vr,
        |        var_samp(seasonal + resid) AS vsr,
        |        var_samp(trend + resid) AS vtr
        |      FROM comp)
        |SELECT n,
        |  round(CASE WHEN vsr > 0 THEN greatest(0.0, 1.0 - vr / vsr)
        |    END, 6) AS seasonal_strength,
        |  round(CASE WHEN vtr > 0 THEN greatest(0.0, 1.0 - vr / vtr)
        |    END, 6) AS trend_strength
        |FROM v""".stripMargin),
    Gate("q_seasonal_even", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("observed"))
      // even period exercises the statsmodels half-weighted-ends trend path
      // (the events series spans 30 days, so period 10 leaves 20 rows with
      // a defined trend; period 30 would need 31 points)
      Windows.seasonalDecompose(daily, "day", "observed", 10)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, avg(value) AS observed
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, observed,
        |    row_number() OVER w AS rn,
        |    count(observed) OVER
        |      (ORDER BY day ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
        |      AS cnt,
        |    sum(observed) OVER
        |      (ORDER BY day ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)
        |      AS innersum,
        |    lag(observed, 5) OVER w AS lo,
        |    lead(observed, 5) OVER w AS hi
        |  FROM daily
        |  WINDOW w AS (ORDER BY day)),
        |d AS (
        |  SELECT day, observed,
        |    CASE WHEN cnt = 11 THEN (innersum + (lo + hi) * 0.5) / 10 END
        |      AS trend,
        |    observed - CASE WHEN cnt = 11
        |                    THEN (innersum + (lo + hi) * 0.5) / 10 END
        |      AS detrended,
        |    (rn - 1) % 10 AS phase
        |  FROM t),
        |pm AS (SELECT phase, avg(detrended) AS phase_mean FROM d GROUP BY phase),
        |sc AS (SELECT avg(phase_mean) AS season_center FROM pm)
        |SELECT d.day, round(d.observed, 6) AS observed,
        |  round(d.trend, 6) AS trend,
        |  round(pm.phase_mean - sc.season_center, 6) AS seasonal,
        |  round(d.observed - d.trend - (pm.phase_mean - sc.season_center), 6)
        |    AS resid
        |FROM d JOIN pm USING (phase) CROSS JOIN sc
        |ORDER BY d.day""".stripMargin),
    Gate("q_yoy", (s, d) => Windows.yearOverYear(Tables.orders(s, d)))(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mon,
        |  count(*) AS n_orders,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY yr, mon ORDER BY yr, mon""".stripMargin),
    Gate("q_yoy_pivot", (s, d) =>
      Windows.yoyPivot(Tables.orders(s, d), 1995 to 2001))(
      """SELECT CAST(month(o_orderdate) AS INTEGER) AS mon,
        |  round(avg(CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice END), 4) AS y1995,
        |  round(avg(CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice END), 4) AS y1996,
        |  round(avg(CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice END), 4) AS y1997,
        |  round(avg(CASE WHEN year(o_orderdate) = 1998 THEN o_totalprice END), 4) AS y1998,
        |  round(avg(CASE WHEN year(o_orderdate) = 1999 THEN o_totalprice END), 4) AS y1999,
        |  round(avg(CASE WHEN year(o_orderdate) = 2000 THEN o_totalprice END), 4) AS y2000,
        |  round(avg(CASE WHEN year(o_orderdate) = 2001 THEN o_totalprice END), 4) AS y2001
        |FROM orders GROUP BY mon ORDER BY mon""".stripMargin),
    Gate("q_rollup", (s, d) => Windows.revenueRollup(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)))(
      """SELECT r_name AS region, n_name AS nation,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region NULLS FIRST, nation NULLS FIRST""".stripMargin),
    Gate("q_cube", (s, d) => Windows.revenueCube(Tables.orders(s, d)))(
      """SELECT o_orderstatus AS status,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, year(o_orderdate))
        |ORDER BY status NULLS FIRST, yr NULLS FIRST""".stripMargin),
    // GROUPING SETS: the three dashboard slices in one Expand pass
    Gate("q_grouping_sets", (s, d) =>
      Windows.revenueGroupingSets(Tables.orders(s, d)))(
      """SELECT o_orderstatus AS status,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, year(o_orderdate)),
        |                        (o_orderstatus), (year(o_orderdate)))
        |ORDER BY status NULLS FIRST, yr NULLS FIRST""".stripMargin),
    Gate("q_monthly_quartiles", (s, d) =>
      Windows.monthlyQuartiles(Tables.lineitem(s, d)))(
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS mon,
        |  min(l_quantity) AS min_qty,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q3,
        |  max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY mon ORDER BY mon""".stripMargin),
    // rolling-origin backtest of the three baseline forecasters with
    // MASE scaling (snaive reports exactly 1) per event type
    // backtest replay: same leakage-safe windows (lag 1, lag 7, shifted
    // trailing mean), same common-warmup row filter, same MASE scaling
    Gate("q_backtest", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.backtestNaive(daily, "event_type", "day",
        "total")
    })(
      """WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS dn,
        |        round(sum(value), 2) AS v
        |      FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT k, day, CAST(v AS DOUBLE) AS v,
        |        max(CAST(v AS DOUBLE)) OVER (PARTITION BY k ORDER BY dn
        |          RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS naive,
        |        max(CAST(v AS DOUBLE)) OVER (PARTITION BY k ORDER BY dn
        |          RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS snaive,
        |        avg(CAST(v AS DOUBLE)) OVER (PARTITION BY k ORDER BY dn
        |          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS ma,
        |        count(*) OVER (PARTITION BY k ORDER BY dn
        |          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nma
        |      FROM daily),
        |s AS (SELECT * FROM p WHERE naive IS NOT NULL
        |        AND snaive IS NOT NULL AND nma = 7),
        |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |        sum(abs(v - naive)) AS ae1,
        |        sum((v - naive) * (v - naive)) AS se1,
        |        sum(abs(v - snaive)) AS ae2,
        |        sum((v - snaive) * (v - snaive)) AS se2,
        |        sum(abs(v - ma)) AS ae3,
        |        sum((v - ma) * (v - ma)) AS se3
        |      FROM s GROUP BY 1)
        |SELECT k AS event_type, method, n, mae, rmse, mase FROM (
        |  SELECT k, 'naive' AS method, n, round(ae1 / n, 6) AS mae,
        |    round(sqrt(se1 / n), 6) AS rmse,
        |    round((ae1 / n) / (ae2 / n), 6) AS mase FROM a
        |  UNION ALL
        |  SELECT k, 'snaive', n, round(ae2 / n, 6),
        |    round(sqrt(se2 / n), 6), round((ae2 / n) / (ae2 / n), 6)
        |  FROM a
        |  UNION ALL
        |  SELECT k, 'moving_avg', n, round(ae3 / n, 6),
        |    round(sqrt(se3 / n), 6), round((ae3 / n) / (ae2 / n), 6)
        |  FROM a)
        |ORDER BY event_type, method""".stripMargin),
    // split-conformal one-step intervals per event type: the k-th-
    // smallest naive backtest residual (k = ceil((n+1)·0.75)) is the
    // distribution-free radius around the last observed value
    // conformal replay: same calendar-anchored naive residuals, the
    // k-th order statistic via the identical (ae, day) rank, last
    // observed value via reverse day rank; ceil((n+1)*0.75) is exact
    // in both double and decimal because 0.75 is dyadic
    Gate("q_conformal", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.conformalInterval(daily, "event_type", "day",
        "total", alpha = 0.25)
    })(
      """WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS dn,
        |        round(sum(value), 2) AS v
        |      FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT k, day, dn, CAST(v AS DOUBLE) AS v,
        |        max(CAST(v AS DOUBLE)) OVER (PARTITION BY k ORDER BY dn
        |          RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS naive
        |      FROM daily),
        |s AS (SELECT k, day, v, abs(v - naive) AS ae FROM p
        |      WHERE naive IS NOT NULL),
        |nn AS (SELECT k, CAST(count(*) AS BIGINT) AS n_cal,
        |         CAST(ceil((count(*) + 1) * 0.75) AS BIGINT) AS kk
        |       FROM s GROUP BY 1),
        |rk AS (SELECT s.k, s.ae, nn.n_cal, nn.kk,
        |         row_number() OVER (PARTITION BY s.k
        |           ORDER BY s.ae, s.day) AS r
        |       FROM s JOIN nn ON nn.k = s.k),
        |qh AS (SELECT k, n_cal, ae AS q FROM rk WHERE r = kk),
        |lv AS (SELECT k, v AS last_v FROM (
        |         SELECT k, v, row_number() OVER (PARTITION BY k
        |           ORDER BY dn DESC) AS r FROM p) WHERE r = 1),
        |cov AS (SELECT s.k,
        |          sum(CASE WHEN s.ae <= qh.q THEN 1 ELSE 0 END)
        |            * CAST(1 AS DOUBLE) / count(*) AS c
        |        FROM s JOIN qh ON qh.k = s.k GROUP BY 1)
        |SELECT qh.k AS event_type, qh.n_cal,
        |  round(qh.q, 6) AS q_hat, lv.last_v AS forecast,
        |  round(lv.last_v - qh.q, 6) AS lo,
        |  round(lv.last_v + qh.q, 6) AS hi,
        |  round(cov.c, 6) AS coverage
        |FROM qh JOIN lv ON lv.k = qh.k JOIN cov ON cov.k = qh.k
        |ORDER BY event_type""".stripMargin),
    // W12: Dickey-Fuller stationarity over the deterministic daily totals
    // W12: six sums → closed-form DF regression, same formulas both sides
    Gate("q_adf", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      Windows.adfTest(daily, "day", "total")
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT CAST(total AS DOUBLE) AS y,
        |    lag(CAST(total AS DOUBLE)) OVER (ORDER BY day) AS x
        |  FROM daily),
        |r AS (SELECT x, y - x AS d FROM l WHERE x IS NOT NULL),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(d) AS sy,
        |    sum(x*x) AS sxx, sum(x*d) AS sxy, sum(d*d) AS syy
        |  FROM r),
        |g AS (
        |  SELECT n, sx, sy, sxx, sxy, syy,
        |    (n*sxy - sx*sy) / (n*sxx - sx*sx) AS gamma
        |  FROM s),
        |f AS (
        |  SELECT n, sxx, sx, sxy, syy, gamma,
        |    (sy - gamma*sx) / n AS alpha, sy
        |  FROM g),
        |e AS (
        |  SELECT n, gamma,
        |    gamma / sqrt((syy - alpha*sy - gamma*sxy) / (n - 2)
        |                 * n / (n*sxx - sx*sx)) AS t_stat
        |  FROM f)
        |SELECT n AS n_obs, round(gamma, 6) AS gamma,
        |  round(t_stat, 6) AS t_stat,
        |  CAST(-3.43 AS DOUBLE) AS crit_1pct,
        |  CAST(-2.86 AS DOUBLE) AS crit_5pct,
        |  CAST(-2.57 AS DOUBLE) AS crit_10pct,
        |  t_stat < -2.86 AS stationary
        |FROM e""".stripMargin),
    // W12 augmented: same series, one lagged-difference regressor —
    // the 3×3 normal equations solved closed-form in the plan
    // W12 augmented DF (maxlag=1): ten moment sums → Cramer's-rule 3×3
    // solve, identical formulas both engines
    Gate("q_adf_lag1", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      Windows.adfTest(daily, "day", "total", maxlag = 1)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT CAST(total AS DOUBLE) AS y,
        |    lag(CAST(total AS DOUBLE), 1) OVER (ORDER BY day) AS x1,
        |    lag(CAST(total AS DOUBLE), 2) OVER (ORDER BY day) AS y2
        |  FROM daily),
        |r AS (SELECT x1, x1 - y2 AS x2, y - x1 AS d FROM l
        |      WHERE x1 IS NOT NULL AND y2 IS NOT NULL),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(x1*x1) AS s11,
        |    sum(x1*x2) AS s12, sum(x2*x2) AS s22, sum(d) AS sd,
        |    sum(x1*d) AS s1d, sum(x2*d) AS s2d, sum(d*d) AS sdd
        |  FROM r),
        |k AS (
        |  SELECT *,
        |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2) AS det,
        |    sd*(s11*s22 - s12*s12) - s1*(s1d*s22 - s12*s2d)
        |      + s2*(s1d*s12 - s11*s2d) AS det_a,
        |    n*(s1d*s22 - s2d*s12) - sd*(s1*s22 - s12*s2)
        |      + s2*(s1*s2d - s1d*s2) AS det_g,
        |    n*(s11*s2d - s12*s1d) - s1*(s1*s2d - s1d*s2)
        |      + sd*(s1*s12 - s11*s2) AS det_b
        |  FROM s),
        |b AS (SELECT *, det_a/det AS alpha, det_g/det AS gamma,
        |        det_b/det AS beta FROM k),
        |e AS (SELECT *, sdd - alpha*sd - gamma*s1d - beta*s2d AS sse
        |      FROM b),
        |t AS (SELECT *, gamma / sqrt(sse / (n - 3)
        |        * (n*s22 - s2*s2) / det) AS t_stat FROM e)
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |  round(gamma, 6) AS gamma,
        |  round(beta, 6) AS beta_dlag1,
        |  round(t_stat, 6) AS t_stat,
        |  CAST(-3.43 AS DOUBLE) AS crit_1pct,
        |  CAST(-2.86 AS DOUBLE) AS crit_5pct,
        |  CAST(-2.57 AS DOUBLE) AS crit_10pct,
        |  t_stat < -2.86 AS stationary
        |FROM t""".stripMargin),
    // W12 with statsmodels' autolag='AIC' selection rule over a FIXED 0..2
    // candidate set (narrower than its default maxlag): common-sample fits,
    // min-AIC pick and the chosen order's refit all in one plan
    // W12 autolag='AIC': three candidate closed-form fits on the common
    // trim-3 sample (centered moments), min-AIC pick, per-order refit —
    // every arithmetic step spelled identically to the Spark plan
    Gate("q_adf_autolag", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      Windows.adfTestAutolag(daily, "day", "total")
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT CAST(total AS DOUBLE) AS y,
        |    lag(CAST(total AS DOUBLE), 1) OVER (ORDER BY day) AS y1,
        |    lag(CAST(total AS DOUBLE), 2) OVER (ORDER BY day) AS y2,
        |    lag(CAST(total AS DOUBLE), 3) OVER (ORDER BY day) AS y3
        |  FROM daily),
        |r AS (SELECT y - y1 AS d, y1 AS x1, y1 - y2 AS x2, y2 - y3 AS x3,
        |        y2 IS NOT NULL AS c2, y3 IS NOT NULL AS c3
        |      FROM l WHERE y1 IS NOT NULL),
        |s AS (SELECT
        |    CAST(count(*) AS DOUBLE) AS n0,
        |    sum(x1) AS a1, sum(d) AS ad, sum(x1*x1) AS a11,
        |    sum(x1*d) AS a1d, sum(d*d) AS add2,
        |    CAST(count(CASE WHEN c2 THEN 1 END) AS DOUBLE) AS n1,
        |    sum(CASE WHEN c2 THEN x1 END) AS b1,
        |    sum(CASE WHEN c2 THEN x2 END) AS b2,
        |    sum(CASE WHEN c2 THEN d END) AS bd,
        |    sum(CASE WHEN c2 THEN x1*x1 END) AS b11,
        |    sum(CASE WHEN c2 THEN x1*x2 END) AS b12,
        |    sum(CASE WHEN c2 THEN x2*x2 END) AS b22,
        |    sum(CASE WHEN c2 THEN x1*d END) AS b1d,
        |    sum(CASE WHEN c2 THEN x2*d END) AS b2d,
        |    sum(CASE WHEN c2 THEN d*d END) AS bdd,
        |    CAST(count(CASE WHEN c3 THEN 1 END) AS DOUBLE) AS n3,
        |    sum(CASE WHEN c3 THEN x1 END) AS u1,
        |    sum(CASE WHEN c3 THEN x2 END) AS u2,
        |    sum(CASE WHEN c3 THEN x3 END) AS u3,
        |    sum(CASE WHEN c3 THEN d END) AS ud,
        |    sum(CASE WHEN c3 THEN x1*x1 END) AS u11,
        |    sum(CASE WHEN c3 THEN x1*x2 END) AS u12,
        |    sum(CASE WHEN c3 THEN x1*x3 END) AS u13,
        |    sum(CASE WHEN c3 THEN x2*x2 END) AS u22,
        |    sum(CASE WHEN c3 THEN x2*x3 END) AS u23,
        |    sum(CASE WHEN c3 THEN x3*x3 END) AS u33,
        |    sum(CASE WHEN c3 THEN x1*d END) AS u1d,
        |    sum(CASE WHEN c3 THEN x2*d END) AS u2d,
        |    sum(CASE WHEN c3 THEN x3*d END) AS u3d,
        |    sum(CASE WHEN c3 THEN d*d END) AS udd
        |  FROM r),
        |cm AS (SELECT *,
        |    u11 - u1*u1/n3 AS S11, u12 - u1*u2/n3 AS S12,
        |    u13 - u1*u3/n3 AS S13, u22 - u2*u2/n3 AS S22,
        |    u23 - u2*u3/n3 AS S23, u33 - u3*u3/n3 AS S33,
        |    u1d - u1*ud/n3 AS S1d, u2d - u2*ud/n3 AS S2d,
        |    u3d - u3*ud/n3 AS S3d, udd - ud*ud/n3 AS Sdd
        |  FROM s),
        |c0 AS (SELECT *, Sdd - S1d/S11*S1d AS sse0 FROM cm),
        |c1 AS (SELECT *, S11*S22 - S12*S12 AS det2 FROM c0),
        |c1b AS (SELECT *,
        |    (S1d*S22 - S12*S2d)/det2 AS g1c,
        |    (S11*S2d - S1d*S12)/det2 AS h1c
        |  FROM c1),
        |c1c AS (SELECT *, Sdd - g1c*S1d - h1c*S2d AS sse1 FROM c1b),
        |c2m AS (SELECT *,
        |    S11*(S22*S33 - S23*S23) - S12*(S12*S33 - S23*S13)
        |      + S13*(S12*S23 - S22*S13) AS det3
        |  FROM c1c),
        |c2b AS (SELECT *,
        |    (S1d*(S22*S33 - S23*S23) - S12*(S2d*S33 - S23*S3d)
        |      + S13*(S2d*S23 - S22*S3d))/det3 AS g2c,
        |    (S11*(S2d*S33 - S23*S3d) - S1d*(S12*S33 - S23*S13)
        |      + S13*(S12*S3d - S2d*S13))/det3 AS h2c,
        |    (S11*(S22*S3d - S2d*S23) - S12*(S12*S3d - S2d*S13)
        |      + S1d*(S12*S23 - S22*S13))/det3 AS j2c
        |  FROM c2m),
        |c2c AS (SELECT *,
        |    Sdd - g2c*S1d - h2c*S2d - j2c*S3d AS sse2 FROM c2b),
        |aic AS (SELECT *,
        |    n3*ln(sse0/n3) + n3*CAST(2.8378770664093453 AS DOUBLE) + 4
        |      AS aic0,
        |    n3*ln(sse1/n3) + n3*CAST(2.8378770664093453 AS DOUBLE) + 6
        |      AS aic1,
        |    n3*ln(sse2/n3) + n3*CAST(2.8378770664093453 AS DOUBLE) + 8
        |      AS aic2
        |  FROM c2c),
        |pick AS (SELECT *,
        |    CASE WHEN aic0 <= aic1 AND aic0 <= aic2 THEN 0
        |         WHEN aic1 <= aic2 THEN 1 ELSE 2 END AS usedlag
        |  FROM aic),
        |f0 AS (SELECT *,
        |    a11 - a1*a1/n0 AS P11, a1d - a1*ad/n0 AS P1d,
        |    add2 - ad*ad/n0 AS Pdd
        |  FROM pick),
        |f0b AS (SELECT *, P1d/P11 AS gam0 FROM f0),
        |f0c AS (SELECT *, Pdd - gam0*P1d AS sf0 FROM f0b),
        |f0d AS (SELECT *, gam0 / sqrt(sf0 / (n0 - 2) / P11) AS t0 FROM f0c),
        |f1 AS (SELECT *,
        |    b11 - b1*b1/n1 AS Q11, b12 - b1*b2/n1 AS Q12,
        |    b22 - b2*b2/n1 AS Q22, b1d - b1*bd/n1 AS Q1d,
        |    b2d - b2*bd/n1 AS Q2d, bdd - bd*bd/n1 AS Qdd
        |  FROM f0d),
        |f1b AS (SELECT *, Q11*Q22 - Q12*Q12 AS detQ FROM f1),
        |f1c AS (SELECT *,
        |    (Q1d*Q22 - Q12*Q2d)/detQ AS gam1,
        |    (Q11*Q2d - Q1d*Q12)/detQ AS bet1
        |  FROM f1b),
        |f1d AS (SELECT *, Qdd - gam1*Q1d - bet1*Q2d AS sf1 FROM f1c),
        |f1e AS (SELECT *,
        |    gam1 / sqrt(sf1 / (n1 - 3) * Q22 / detQ) AS t1 FROM f1d),
        |f2 AS (SELECT *,
        |    g2c / sqrt(sse2 / (n3 - 4) * (S22*S33 - S23*S23) / det3) AS t2
        |  FROM f1e),
        |fin AS (SELECT *,
        |    CASE WHEN usedlag = 0 THEN gam0 WHEN usedlag = 1 THEN gam1
        |         ELSE g2c END AS gamma,
        |    CASE WHEN usedlag = 0 THEN t0 WHEN usedlag = 1 THEN t1
        |         ELSE t2 END AS t_stat,
        |    CASE WHEN usedlag = 0 THEN aic0 WHEN usedlag = 1 THEN aic1
        |         ELSE aic2 END AS aic_best
        |  FROM f2)
        |SELECT
        |  CAST(CASE WHEN usedlag = 0 THEN n0 WHEN usedlag = 1 THEN n1
        |       ELSE n3 END AS BIGINT) AS n_obs,
        |  usedlag,
        |  round(aic_best, 6) AS aic,
        |  round(gamma, 6) AS gamma,
        |  round(t_stat, 6) AS t_stat,
        |  CAST(-3.43 AS DOUBLE) AS crit_1pct,
        |  CAST(-2.86 AS DOUBLE) AS crit_5pct,
        |  CAST(-2.57 AS DOUBLE) AS crit_10pct,
        |  t_stat < -2.86 AS stationary
        |FROM fin""".stripMargin),
    // long-memory diagnostic: aggregated-variance Hurst exponent of
    // the daily revenue series (INTEGER cents — the money rule), H =
    // 1 + slope/2 of the ln Var(block mean) vs ln m dyadic-block fit
    // Mann-Kendall replay: same monthly series; S and the tie term are
    // exact integers, z one quotient of their casts
    // Hurst replay: same integer-cents daily series, same dyadic
    // blocks (exact HUGEINT sum-of-squares), same pinned ln-ln fold
    Gate("q_hurst", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      graft.ops.Windows.hurstExponent(daily, "day", "cents")
    })(
      hurstOracle(Seq(1, 2, 4, 8, 16))),
    // per-key EWMA (pandas adjust=False recursion) over the daily series;
    // the oracle replays the identical recursion as a recursive CTE
    // EWMA: the oracle replays the identical per-key recursion (same
    // 0.3/0.7 literals, same rounded inputs) as a recursive CTE
    Gate("q_ewma", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.ewma(daily, "event_type", "day", "total",
        alpha = 0.3)
    })(
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT k, day, v,
        |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |      FROM d),
        |e AS (
        |  SELECT k, day, v, rn, v AS y FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.day, s.v, s.rn, 0.3 * s.v + 0.7 * e.y
        |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1)
        |SELECT k AS event_type, day, v AS total, round(y, 6) AS ewma
        |FROM e ORDER BY event_type, day""".stripMargin),
    // 14-day rolling correlation of the view vs purchase daily channels
    Gate("q_rolling_corr", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("view", "purchase"))
        .agg(round(sum(col("value")), 2))
        .na.drop(Seq("view", "purchase"))
      graft.ops.Windows.rollingCorrelation(daily, "day",
        "view", "purchase", windowRows = 14, minPeriods = 5)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    round(sum(CASE WHEN event_type = 'view' THEN value END), 2)
        |      AS view,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value END),
        |      2) AS purchase
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT * FROM daily
        |       WHERE view IS NOT NULL AND purchase IS NOT NULL),
        |s AS (SELECT day, view, purchase,
        |    CAST(count(*) OVER w AS DOUBLE) AS n,
        |    sum(CAST(view AS DOUBLE)) OVER w AS sx,
        |    sum(CAST(purchase AS DOUBLE)) OVER w AS sy,
        |    sum(CAST(view AS DOUBLE) * CAST(view AS DOUBLE)) OVER w
        |      AS sxx,
        |    sum(CAST(purchase AS DOUBLE) * CAST(purchase AS DOUBLE))
        |      OVER w AS syy,
        |    sum(CAST(view AS DOUBLE) * CAST(purchase AS DOUBLE)) OVER w
        |      AS sxy
        |  FROM d2 WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, view, purchase,
        |  round(CASE WHEN n >= 5 AND n * sxx - sx * sx > 0.0
        |                  AND n * syy - sy * sy > 0.0
        |             THEN (n * sxy - sx * sy) /
        |               (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |        END, 6) AS rolling_corr
        |FROM s ORDER BY day""".stripMargin),
    // sample ACF at lags 1..7 of the daily event-value series (weekly
    // cycle shows as a lag-7 peak)
    // ACF: full-series mean/denominator (statsmodels convention), per-lag
    // product sums over the daily frame
    Gate("q_acf", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.acf(daily, "day", "total", maxLag = 7)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1),
        |m AS (SELECT avg(CAST(total AS DOUBLE)) AS mu FROM daily),
        |l AS (SELECT CAST(total AS DOUBLE) AS x, mu,
        |        lag(CAST(total AS DOUBLE), 1) OVER (ORDER BY day) AS l1,
        |        lag(CAST(total AS DOUBLE), 2) OVER (ORDER BY day) AS l2,
        |        lag(CAST(total AS DOUBLE), 3) OVER (ORDER BY day) AS l3,
        |        lag(CAST(total AS DOUBLE), 4) OVER (ORDER BY day) AS l4,
        |        lag(CAST(total AS DOUBLE), 5) OVER (ORDER BY day) AS l5,
        |        lag(CAST(total AS DOUBLE), 6) OVER (ORDER BY day) AS l6,
        |        lag(CAST(total AS DOUBLE), 7) OVER (ORDER BY day) AS l7
        |      FROM daily CROSS JOIN m),
        |s AS (SELECT sum((x - mu) * (x - mu)) AS ss,
        |        sum((x - mu) * (l1 - mu)) AS s1,
        |        sum((x - mu) * (l2 - mu)) AS s2,
        |        sum((x - mu) * (l3 - mu)) AS s3,
        |        sum((x - mu) * (l4 - mu)) AS s4,
        |        sum((x - mu) * (l5 - mu)) AS s5,
        |        sum((x - mu) * (l6 - mu)) AS s6,
        |        sum((x - mu) * (l7 - mu)) AS s7
        |      FROM l)
        |SELECT CAST(u.l AS INTEGER) AS lag,
        |  round(CASE u.l WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
        |                 WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6
        |                 WHEN 7 THEN s7 END / ss, 6) AS acf
        |FROM s CROSS JOIN UNNEST(range(1, 8)) AS u(l)
        |ORDER BY lag""".stripMargin),
    // causal-impact-lite: counterfactual purchase volume from the view
    // channel, fitted pre-intervention, cumulative net effect after
    // causal-impact replay: pre-period moment scalar, same closed-form
    // slope/intercept text, pinned cumulative-effect fold
    Gate("q_causal_impact", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(when(col("event_type") === "purchase",
          col("value")).otherwise(lit(0.0))), 2).as("y"),
          round(sum(when(col("event_type") === "view", col("value"))
            .otherwise(lit(0.0))), 2).as("x"))
      graft.ops.Windows.causalImpact(daily, "day", "y", "x",
        intervention = "2024-01-16")
    })(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0.0 END), 2) AS y,
        |    round(sum(CASE WHEN event_type = 'view' THEN value
        |      ELSE 0.0 END), 2) AS x
        |  FROM events GROUP BY 1),
        |pre AS (SELECT CAST(y AS DOUBLE) AS y, CAST(x AS DOUBLE) AS x
        |  FROM daily WHERE day < DATE '2024-01-16'),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM pre),
        |f0 AS (SELECT n, sx, sy,
        |    CASE WHEN n * sxx - sx * sx <> 0.0
        |      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS b
        |  FROM s),
        |f AS (SELECT n, b, (sy - b * sx) / n AS a FROM f0),
        |post AS (SELECT day, CAST(y AS DOUBLE) AS y,
        |    CAST(x AS DOUBLE) AS x FROM daily
        |  WHERE day >= DATE '2024-01-16'),
        |p AS (SELECT day, y, a + b * x AS pred FROM post, f),
        |q AS (SELECT day, y, pred, y - pred AS eff,
        |    sum(y - pred) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum,
        |    sum(pred) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS sp,
        |    sum(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS sa
        |  FROM p)
        |SELECT day, round(y, 6) AS actual,
        |  round(pred, 6) AS counterfactual,
        |  round(eff, 6) AS effect, round(cum, 6) AS cum_effect,
        |  round(CASE WHEN sp <> 0.0 THEN (sa - sp) / sp END, 6)
        |    AS relative_effect
        |FROM q ORDER BY day""".stripMargin),
    // lag-1 Granger screen: does yesterday's view volume predict
    // today's purchase volume beyond its own history?
    // Granger replay: same standardization, same 10 moment sums, same
    // Cramer determinant text — one IEEE path in both engines
    Gate("q_granger", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(when(col("event_type") === "purchase",
          col("value")).otherwise(lit(0.0))), 2).as("y"),
          round(sum(when(col("event_type") === "view", col("value"))
            .otherwise(lit(0.0))), 2).as("x"))
      graft.ops.Windows.grangerLite(daily, "day", "y", "x")
    })(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0.0 END), 2) AS y,
        |    round(sum(CASE WHEN event_type = 'view' THEN value
        |      ELSE 0.0 END), 2) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT avg(CAST(y AS DOUBLE)) AS my,
        |    stddev_samp(CAST(y AS DOUBLE)) AS sy0,
        |    avg(CAST(x AS DOUBLE)) AS mx,
        |    stddev_samp(CAST(x AS DOUBLE)) AS sx0 FROM daily),
        |z AS (SELECT day, (CAST(y AS DOUBLE) - my) / sy0 AS zy,
        |    (CAST(x AS DOUBLE) - mx) / sx0 AS zx FROM daily, m),
        |l AS (SELECT zy, lag(zy) OVER (ORDER BY day) AS y1,
        |    lag(zx) OVER (ORDER BY day) AS x1 FROM z),
        |ff AS (SELECT * FROM l
        |  WHERE y1 IS NOT NULL AND x1 IS NOT NULL),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(y1) AS s1,
        |    sum(x1) AS s2, sum(zy) AS sy, sum(y1 * y1) AS s11,
        |    sum(y1 * x1) AS s12, sum(x1 * x1) AS s22,
        |    sum(y1 * zy) AS s1y, sum(x1 * zy) AS s2y,
        |    sum(zy * zy) AS syy FROM ff),
        |d AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12)
        |      - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2,
        |    n * s11 - s1 * s1 AS dr
        |  FROM s),
        |e AS (SELECT *,
        |    syy - (det0 / det) * sy - (det1 / det) * s1y
        |      - (det2 / det) * s2y AS sseu,
        |    (n * s1y - s1 * sy) / dr AS slr
        |  FROM d),
        |g AS (SELECT *, (sy - slr * s1) / n AS inr FROM e),
        |h AS (SELECT *, syy - inr * sy - slr * s1y AS sser FROM g),
        |k AS (SELECT *,
        |    (sser - sseu) / (sseu / (n - 3.0)) AS f FROM h)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN det <> 0.0 THEN det1 / det END, 6) AS b_ylag,
        |  round(CASE WHEN det <> 0.0 THEN det2 / det END, 6) AS b_xlag,
        |  round(CASE WHEN det <> 0.0 THEN sseu END, 6) AS sse_u,
        |  round(CASE WHEN dr <> 0.0 THEN sser END, 6) AS sse_r,
        |  round(CASE WHEN det <> 0.0 AND dr <> 0.0 AND sseu > 0.0
        |    THEN f END, 6) AS f_stat,
        |  CASE WHEN det <> 0.0 AND dr <> 0.0 AND sseu > 0.0
        |    THEN f END > 3.841459 AS x_granger_causes_y
        |FROM k""".stripMargin),
    // Ljung-Box whiteness test over the same daily series: Q(h) per lag
    // vs the 5% chi-square critical value
    // Ljung-Box replay: the q_acf product-sums plus n, unrounded rho
    // terms folded in PINNED lag order, published chi-square constants
    Gate("q_ljung_box", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.ljungBox(daily, "day", "total", maxLag = 7)
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1),
        |m AS (SELECT avg(CAST(total AS DOUBLE)) AS mu FROM daily),
        |l AS (SELECT CAST(total AS DOUBLE) AS x, mu,
        |        lag(CAST(total AS DOUBLE), 1) OVER (ORDER BY day) AS l1,
        |        lag(CAST(total AS DOUBLE), 2) OVER (ORDER BY day) AS l2,
        |        lag(CAST(total AS DOUBLE), 3) OVER (ORDER BY day) AS l3,
        |        lag(CAST(total AS DOUBLE), 4) OVER (ORDER BY day) AS l4,
        |        lag(CAST(total AS DOUBLE), 5) OVER (ORDER BY day) AS l5,
        |        lag(CAST(total AS DOUBLE), 6) OVER (ORDER BY day) AS l6,
        |        lag(CAST(total AS DOUBLE), 7) OVER (ORDER BY day) AS l7
        |      FROM daily CROSS JOIN m),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |        sum((x - mu) * (x - mu)) AS ss,
        |        sum((x - mu) * (l1 - mu)) AS s1,
        |        sum((x - mu) * (l2 - mu)) AS s2,
        |        sum((x - mu) * (l3 - mu)) AS s3,
        |        sum((x - mu) * (l4 - mu)) AS s4,
        |        sum((x - mu) * (l5 - mu)) AS s5,
        |        sum((x - mu) * (l6 - mu)) AS s6,
        |        sum((x - mu) * (l7 - mu)) AS s7
        |      FROM l),
        |r AS (SELECT n, CAST(u.l AS INTEGER) AS lag,
        |        CASE u.l WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
        |                 WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6
        |                 WHEN 7 THEN s7 END / ss AS rho
        |      FROM s CROSS JOIN UNNEST(range(1, 8)) AS u(l)),
        |q AS (SELECT n, lag, rho,
        |        n * (n + 2.0) * sum(rho * rho / (n - lag)) OVER (
        |          ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS qstat
        |      FROM r)
        |SELECT lag, round(rho, 6) AS acf, round(qstat, 6) AS q_stat,
        |  ([3.841459, 5.991465, 7.814728, 9.487729, 11.070498,
        |    12.591587, 14.06714])[lag] AS chi2_crit_5pct,
        |  qstat > ([3.841459, 5.991465, 7.814728, 9.487729, 11.070498,
        |    12.591587, 14.06714])[lag] AS reject_white_noise
        |FROM q ORDER BY lag""".stripMargin),
    // Holt linear-trend smoothing per event type + 3-step-ahead forecast
    // from the final (level, trend) state
    // Holt: the q_ewma recursive-CTE pattern with coupled (l, b) state;
    // l's expression is inlined twice so both engines walk one IEEE path
    Gate("q_holt_forecast", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.holtForecast(daily, "event_type", "day", "total")
    })(
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT k, day, v,
        |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |      FROM d),
        |e AS (
        |  SELECT k, day, rn, CAST(v AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.day, s.rn,
        |    0.5 * s.v + 0.5 * (e.l + e.b),
        |    0.25 * ((0.5 * s.v + 0.5 * (e.l + e.b)) - e.l) + 0.75 * e.b
        |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1),
        |m AS (SELECT k, max(rn) AS mx FROM s GROUP BY 1)
        |SELECT e.k AS event_type, e.day AS last_ord,
        |  round(e.l, 6) AS level, round(e.b, 6) AS trend,
        |  round(e.l + 1 * e.b, 6) AS f1,
        |  round(e.l + 2 * e.b, 6) AS f2,
        |  round(e.l + 3 * e.b, 6) AS f3
        |FROM e JOIN m ON m.k = e.k AND e.rn = m.mx
        |ORDER BY event_type""".stripMargin),
    // Croston intermittent-demand chains over sparse per-part daily
    // quantity (demand-event rows only — no zero-filled calendar)
    // Croston replay: the q_ewma recursive-CTE pattern with the
    // (z, p) demand-size/interval chains; intervals from lag over the
    // demand-event frame, never a zero-filled calendar
    Gate("q_croston", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.lineitem(s, d)
        .where(col("l_partkey") <= 8)
        .groupBy(col("l_partkey"), col("l_shipdate"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))
      graft.ops.Windows.crostonForecast(daily, "l_partkey",
        "l_shipdate", "qty", alpha = 0.25)
    })(
      """WITH RECURSIVE d AS (
        |  SELECT l_partkey AS k, l_shipdate AS day,
        |    CAST(round(sum(l_quantity), 2) AS DOUBLE) AS v
        |  FROM lineitem WHERE l_partkey <= 8 GROUP BY 1, 2),
        |s AS (SELECT k, day, v,
        |    CAST(coalesce(date_diff('day',
        |      lag(day) OVER (PARTITION BY k ORDER BY day), day), 1)
        |      AS DOUBLE) AS q,
        |    row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |  FROM d WHERE v > 0.0),
        |c AS (
        |  SELECT k, day, v, q, rn, v AS z, CAST(1.0 AS DOUBLE) AS p
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.day, s.v, s.q, s.rn,
        |    0.25 * s.v + 0.75 * c.z, 0.25 * s.q + 0.75 * c.p
        |  FROM s JOIN c ON s.k = c.k AND s.rn = c.rn + 1)
        |SELECT k AS l_partkey, day AS l_shipdate, v AS demand,
        |  CAST(q AS BIGINT) AS interval_days,
        |  round(z, 6) AS smoothed_demand,
        |  round(p, 6) AS smoothed_interval,
        |  round(z / p, 6) AS forecast_rate
        |FROM c ORDER BY l_partkey, l_shipdate""".stripMargin),
    // hierarchical reconciliation: per-type Holt forecasts rescaled to
    // cohere with the aggregate-series forecast
    // reconciliation replay: the q_holt_forecast recursion over the
    // per-type series UNION the TOTAL series, then the pinned top-down
    // proportional rescale
    Gate("q_reconcile", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.reconcileForecasts(daily, "event_type", "day",
        "total")
    })(
      """WITH RECURSIVE d0 AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |dt AS (SELECT 'TOTAL' AS k, day, round(sum(v), 2) AS v
        |  FROM d0 GROUP BY 2),
        |d AS (SELECT * FROM d0 UNION ALL SELECT * FROM dt),
        |s AS (SELECT k, day, v,
        |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |      FROM d),
        |e AS (
        |  SELECT k, day, rn, CAST(v AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.day, s.rn,
        |    0.5 * s.v + 0.5 * (e.l + e.b),
        |    0.25 * ((0.5 * s.v + 0.5 * (e.l + e.b)) - e.l) + 0.75 * e.b
        |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1),
        |m AS (SELECT k, max(rn) AS mx FROM s GROUP BY 1),
        |fin AS (SELECT e.k,
        |    round(e.l + 1 * e.b, 6) AS f1,
        |    round(e.l + 2 * e.b, 6) AS f2,
        |    round(e.l + 3 * e.b, 6) AS f3
        |  FROM e JOIN m ON m.k = e.k AND e.rn = m.mx),
        |lng AS (SELECT k, 1 AS h, f1 AS f FROM fin
        |  UNION ALL SELECT k, 2, f2 FROM fin
        |  UNION ALL SELECT k, 3, f3 FROM fin),
        |ch AS (SELECT * FROM lng WHERE k <> 'TOTAL'),
        |tt AS (SELECT h, f AS tf FROM lng WHERE k = 'TOTAL'),
        |j AS (SELECT ch.k, ch.h, ch.f, tt.tf,
        |    sum(ch.f) OVER (PARTITION BY ch.h ORDER BY ch.k ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s
        |  FROM ch JOIN tt ON tt.h = ch.h)
        |SELECT k AS event_type, CAST(h AS INTEGER) AS horizon,
        |  f AS base_forecast, tf AS total_forecast,
        |  round(CASE WHEN s <> 0.0 THEN f * (tf / s) END, 6)
        |    AS reconciled
        |FROM j ORDER BY event_type, horizon""".stripMargin),
    // Holt-Winters additive weekly seasonality over the same per-type
    // daily series: (level, trend, seasonal[7]) fold, 3-step forecasts
    // carrying the matching seasonal index
    Gate("q_holt_winters", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.holtWintersForecast(daily, "event_type", "day",
        "total", period = 7)
    })(
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT k, day, v,
        |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |      FROM d),
        |e AS (
        |  SELECT k, day, rn, CAST(v AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sv,
        |    [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS sl
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.day, s.rn,
        |    0.5 * (s.v - e.sl[1]) + 0.5 * (e.l + e.b),
        |    0.25 * ((0.5 * (s.v - e.sl[1]) + 0.5 * (e.l + e.b)) - e.l)
        |      + 0.75 * e.b,
        |    0.25 * (s.v - e.l - e.b) + 0.75 * e.sl[1],
        |    list_concat(e.sl[2:],
        |      [0.25 * (s.v - e.l - e.b) + 0.75 * e.sl[1]])
        |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1),
        |m AS (SELECT k, max(rn) AS mx FROM s GROUP BY 1)
        |SELECT e.k AS event_type, e.day AS last_ord,
        |  round(e.l, 6) AS level, round(e.b, 6) AS trend,
        |  round(e.l + 1 * e.b + e.sl[1], 6) AS f1,
        |  round(e.l + 2 * e.b + e.sl[2], 6) AS f2,
        |  round(e.l + 3 * e.b + e.sl[3], 6) AS f3
        |FROM e JOIN m ON m.k = e.k AND e.rn = m.mx
        |ORDER BY event_type""".stripMargin),
    // theta-method forecast (θ=2, the M3 winner): OLS trend line +
    // SES-smoothed double-curvature line, averaged
    // theta replay: sequential OLS moment sums (pinned running windows
    // = the array fold's order), round-6 (a, b) feeding the recursive
    // SES over the theta2 line, identical combination arithmetic
    Gate("q_theta", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.thetaForecast(daily, "event_type", "day",
        "total", alpha = 0.5, horizons = 3)
    })(
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT k, day, CAST(v AS DOUBLE) AS v,
        |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |      FROM d),
        |acc AS (SELECT k, day, v, rn,
        |    sum(CAST(rn AS DOUBLE)) OVER seqw AS st,
        |    sum(v) OVER seqw AS sx,
        |    sum(CAST(rn AS DOUBLE) * v) OVER seqw AS stx,
        |    sum(CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)) OVER seqw
        |      AS stt
        |  FROM s WINDOW seqw AS (PARTITION BY k ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT k, CAST(max(rn) AS BIGINT) AS n FROM s GROUP BY 1),
        |fit AS (SELECT a.k, a.day AS last_ord, m.n, a.st, a.sx,
        |    round(CASE WHEN CAST(m.n AS DOUBLE) * a.stt - a.st * a.st
        |        <> 0
        |      THEN (CAST(m.n AS DOUBLE) * a.stx - a.st * a.sx)
        |        / (CAST(m.n AS DOUBLE) * a.stt - a.st * a.st) END, 6)
        |      AS b
        |  FROM acc a JOIN m ON m.k = a.k AND a.rn = m.n),
        |fit2 AS (SELECT k, last_ord, n, b,
        |    round((sx - b * st) / CAST(n AS DOUBLE), 6) AS a
        |  FROM fit WHERE b IS NOT NULL),
        |e AS (
        |  SELECT s.k, s.rn,
        |    2 * s.v - (f.a + f.b * CAST(s.rn AS DOUBLE)) AS l,
        |    f.a AS fa, f.b AS fb, f.n, f.last_ord
        |  FROM s JOIN fit2 f ON f.k = s.k WHERE s.rn = 1
        |  UNION ALL
        |  SELECT s.k, s.rn,
        |    0.5 * (2 * s.v - (e.fa + e.fb * CAST(s.rn AS DOUBLE)))
        |      + 0.5 * e.l,
        |    e.fa, e.fb, e.n, e.last_ord
        |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1)
        |SELECT e.k AS event_type, e.last_ord, e.n,
        |  e.fa AS intercept, e.fb AS slope,
        |  round(e.l, 6) AS ses_level,
        |  round(0.5 * (e.fa + e.fb * (CAST(e.n AS DOUBLE) + 1.0))
        |    + 0.5 * e.l, 6) AS f1,
        |  round(0.5 * (e.fa + e.fb * (CAST(e.n AS DOUBLE) + 2.0))
        |    + 0.5 * e.l, 6) AS f2,
        |  round(0.5 * (e.fa + e.fb * (CAST(e.n AS DOUBLE) + 3.0))
        |    + 0.5 * e.l, 6) AS f3
        |FROM e WHERE e.rn = e.n ORDER BY event_type""".stripMargin),
    // damped-trend Holt-Winters (φ = 7/8): the long-horizon fix — the
    // trend decays by φ per step instead of walking off linearly
    // damped replay: the q_holt_winters recursion with φ = 0.875 on the
    // trend terms and exact dyadic φ-sum forecast multipliers
    Gate("q_holt_damped", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.holtWintersDamped(daily, "event_type", "day",
        "total", period = 7, phi = 0.875)
    })(
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT k, day, v,
        |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
        |      FROM d),
        |e AS (
        |  SELECT k, day, rn, CAST(v AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sv,
        |    [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS sl
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.day, s.rn,
        |    0.5 * (s.v - e.sl[1]) + 0.5 * (e.l + 0.875 * e.b),
        |    0.25 * ((0.5 * (s.v - e.sl[1]) + 0.5 * (e.l + 0.875 * e.b))
        |        - e.l)
        |      + 0.75 * 0.875 * e.b,
        |    0.25 * (s.v - e.l - 0.875 * e.b) + 0.75 * e.sl[1],
        |    list_concat(e.sl[2:],
        |      [0.25 * (s.v - e.l - 0.875 * e.b) + 0.75 * e.sl[1]])
        |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1),
        |m AS (SELECT k, max(rn) AS mx FROM s GROUP BY 1)
        |SELECT e.k AS event_type, e.day AS last_ord,
        |  round(e.l, 6) AS level, round(e.b, 6) AS trend,
        |  round(e.l + 0.875 * e.b + e.sl[1], 6) AS f1,
        |  round(e.l + 1.640625 * e.b + e.sl[2], 6) AS f2,
        |  round(e.l + 2.310546875 * e.b + e.sl[3], 6) AS f3
        |FROM e JOIN m ON m.k = e.k AND e.rn = m.mx
        |ORDER BY event_type""".stripMargin),
    // auto Holt-Winters: per-key (α, β, γ) selected from the 12-triple
    // dyadic grid by one-step-ahead SSE — the auto_arima-style bounded
    // model search; every candidate's full recursion is oracle-replayed
    // Holt-Winters: the q_holt_forecast recursive CTE with the last-7
    // seasonals carried as a list (Spark reads them from its full fold
    // history instead — same doubles, different bookkeeping); every
    // arithmetic expression is spelled operand-for-operand identically
    // all 12 dyadic candidates recurse simultaneously; per-key SSE argmin
    Gate("q_holt_winters_auto", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.holtWintersAuto(daily, "event_type", "day",
        "total", period = 7)
    })(
      holtWintersAutoOracle(7)),
    // PACF at lags 1..3 over the same daily series (Durbin-Levinson on
    // the distributed autocovariance sums — the AR-order pick next to ACF)
    // PACF: identical moment sums, then the Durbin-Levinson chain spelled
    // operand-for-operand as Windows.pacf evaluates it
    Gate("q_pacf", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.pacf(daily, "day", "total")
    })(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1),
        |m AS (SELECT avg(CAST(total AS DOUBLE)) AS mu FROM daily),
        |l AS (SELECT CAST(total AS DOUBLE) AS x, mu,
        |        lag(CAST(total AS DOUBLE), 1) OVER (ORDER BY day) AS l1,
        |        lag(CAST(total AS DOUBLE), 2) OVER (ORDER BY day) AS l2,
        |        lag(CAST(total AS DOUBLE), 3) OVER (ORDER BY day) AS l3
        |      FROM daily CROSS JOIN m),
        |s AS (SELECT sum((x - mu) * (x - mu)) AS ss,
        |        sum((x - mu) * (l1 - mu)) AS s1,
        |        sum((x - mu) * (l2 - mu)) AS s2,
        |        sum((x - mu) * (l3 - mu)) AS s3
        |      FROM l),
        |r AS (SELECT s1 / ss AS r1, s2 / ss AS r2, s3 / ss AS r3 FROM s),
        |d1 AS (SELECT *, r1 AS p1, 1.0 - r1 * r1 AS v1 FROM r),
        |d2 AS (SELECT *, (r2 - r1 * r1) / v1 AS p2 FROM d1),
        |d3 AS (SELECT *, r1 - p2 * r1 AS p21,
        |         v1 * (1.0 - p2 * p2) AS v2 FROM d2),
        |d4 AS (SELECT *, (r3 - p21 * r2 - p2 * r1) / v2 AS p3 FROM d3)
        |SELECT CAST(u.l AS INTEGER) AS lag,
        |  round(CASE u.l WHEN 1 THEN p1 WHEN 2 THEN p2
        |                 WHEN 3 THEN p3 END, 6) AS pacf
        |FROM d4 CROSS JOIN UNNEST(range(1, 4)) AS u(l)
        |ORDER BY lag""".stripMargin),
    // cross-correlation of the view vs purchase daily channels at lags
    // -3..3 (one exploded-lag equi-join, moments broadcast)
    // CCF: each series' moments over its own domain; the numerator rides
    // one exploded-lag equi-join exactly like Windows.ccf
    Gate("q_ccf", (s, d) => {
      import org.apache.spark.sql.functions._
      def daily(t: String) = Tables.events(s, d)
        .where(col("event_type") === t)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Windows.ccf(daily("view"), daily("purchase"),
        "day", "total", maxLag = 3)
    })(
      """WITH a AS (SELECT CAST(ts AS DATE) AS day,
        |             round(sum(value), 2) AS total
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT CAST(ts AS DATE) AS day,
        |        round(sum(value), 2) AS total
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ma AS (SELECT avg(CAST(total AS DOUBLE)) AS mx FROM a),
        |mb AS (SELECT avg(CAST(total AS DOUBLE)) AS my FROM b),
        |sa AS (SELECT sum((CAST(total AS DOUBLE) - mx) *
        |         (CAST(total AS DOUBLE) - mx)) AS ssx
        |       FROM a CROSS JOIN ma),
        |sb AS (SELECT sum((CAST(total AS DOUBLE) - my) *
        |         (CAST(total AS DOUBLE) - my)) AS ssy
        |       FROM b CROSS JOIN mb),
        |n AS (SELECT u.k AS lag,
        |        sum((CAST(a.total AS DOUBLE) - mx) *
        |          (CAST(b.total AS DOUBLE) - my)) AS num
        |      FROM a CROSS JOIN UNNEST(range(-3, 4)) AS u(k)
        |      JOIN b ON b.day = a.day + CAST(u.k AS INTEGER)
        |      CROSS JOIN ma CROSS JOIN mb
        |      GROUP BY 1)
        |SELECT CAST(lag AS INTEGER) AS lag,
        |  round(num / sqrt(ssx * ssy), 6) AS ccf
        |FROM n CROSS JOIN sa CROSS JOIN sb ORDER BY lag""".stripMargin),
  )

  /** The q_hurst oracle: daily integer-cents series, per-block-size
    * exact block sums (HUGEINT squares = Spark's decimal(38,0)),
    * variance of block means as one pinned float expression, ln-ln
    * OLS as pinned window folds over the fitted sizes.
    */
  private def hurstOracle(blockSizes: Seq[Int]): String = {
    val per = blockSizes.map { m =>
      s"""b$m AS (SELECT CAST(floor(i / $m) AS BIGINT) AS b,
         |    count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS s
         |  FROM ix GROUP BY 1),
         |v$m AS (SELECT $m AS m, CAST(count(*) AS BIGINT) AS n_blocks,
         |    (CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE) / count(*)
         |     - (CAST(sum(s) AS DOUBLE) / count(*))
         |       * (CAST(sum(s) AS DOUBLE) / count(*)))
         |    / (CAST($m AS DOUBLE) * $m) AS var
         |  FROM b$m WHERE cnt = $m)""".stripMargin
    }.mkString(",\n")
    s"""WITH daily AS (SELECT o_orderdate AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |ix AS (SELECT cents,
       |    row_number() OVER (ORDER BY day) - 1 AS i FROM daily),
       |$per,
       |lv AS (SELECT m, n_blocks, var FROM
       |    (${blockSizes.map(m => s"SELECT * FROM v$m")
                .mkString(" UNION ALL ")})
       |  WHERE var > 0.0),
       |f AS (SELECT m, n_blocks, ln(CAST(m AS DOUBLE)) AS lx,
       |        ln(var) AS ly FROM lv),
       |g AS (SELECT *, CAST(count(*) OVER pin AS DOUBLE) AS k,
       |    sum(lx) OVER pin AS sx, sum(ly) OVER pin AS sy,
       |    sum(lx * ly) OVER pin AS sxy, sum(lx * lx) OVER pin AS sxx
       |  FROM f WINDOW pin AS (ORDER BY m ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT CAST(m AS INTEGER) AS m, n_blocks,
       |  round(ly, 6) + 0.0 AS ln_var,
       |  round(1.0 + ((k * sxy - sx * sy) / (k * sxx - sx * sx))
       |    / 2.0, 6) + 0.0 AS hurst
       |FROM g WHERE k >= 2.0 ORDER BY m""".stripMargin
  }

  /** The q_holt_winters_auto oracle: the SAME recursive-CTE recursion as
    * q_holt_winters, but the working table also carries the candidate id
    * and its (α, β, γ) columns plus an accumulating one-step-ahead SSE —
    * all 12 grid candidates recurse simultaneously, then a per-key
    * (sse, cand) argmin keeps the winner. The VALUES list is generated
    * from the same for-comprehension as `Windows.holtWintersAuto`'s
    * default grid, so the two can never drift.
    */
  private def holtWintersAutoOracle(period: Int): String = {
    val grid = (for (a <- Seq(0.25, 0.5, 0.75); b <- Seq(0.125, 0.25);
                     g <- Seq(0.25, 0.5)) yield (a, b, g)).zipWithIndex
    val values = grid.map { case ((a, b, g), i) =>
      s"($i, CAST($a AS DOUBLE), CAST($b AS DOUBLE), CAST($g AS DOUBLE))"
    }.mkString(",\n        ")
    val zeros = "[" + Seq.fill(period)("CAST(0.0 AS DOUBLE)")
      .mkString(", ") + "]"
    s"""WITH RECURSIVE d AS (
       |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
       |    round(sum(value), 2) AS v
       |  FROM events GROUP BY 1, 2),
       |s AS (SELECT k, day, v,
       |        row_number() OVER (PARTITION BY k ORDER BY day) AS rn
       |      FROM d),
       |c(cand, al, be, ga) AS (VALUES $values),
       |e AS (
       |  SELECT c.cand, c.al, c.be, c.ga, s.k, s.day, s.rn,
       |    CAST(s.v AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
       |    $zeros AS sl, CAST(0.0 AS DOUBLE) AS sse
       |  FROM s CROSS JOIN c WHERE s.rn = 1
       |  UNION ALL
       |  SELECT e.cand, e.al, e.be, e.ga, s.k, s.day, s.rn,
       |    e.al * (s.v - e.sl[1]) + (1.0 - e.al) * (e.l + e.b),
       |    e.be * ((e.al * (s.v - e.sl[1]) + (1.0 - e.al) * (e.l + e.b))
       |            - e.l) + (1.0 - e.be) * e.b,
       |    list_concat(e.sl[2:],
       |      [e.ga * (s.v - e.l - e.b) + (1.0 - e.ga) * e.sl[1]]),
       |    e.sse + (s.v - (e.l + e.b + e.sl[1]))
       |          * (s.v - (e.l + e.b + e.sl[1]))
       |  FROM s JOIN e ON s.k = e.k AND s.rn = e.rn + 1),
       |fin AS (
       |  SELECT e.* FROM e
       |  JOIN (SELECT k, max(rn) AS mx FROM s GROUP BY 1) m
       |    ON m.k = e.k AND e.rn = m.mx),
       |w AS (SELECT *, row_number() OVER (PARTITION BY k
       |                 ORDER BY sse, cand) AS rk
       |      FROM fin)
       |SELECT k AS event_type, day AS last_ord, al AS alpha, be AS beta,
       |  ga AS gamma, round(sse, 4) AS sse,
       |  round(l, 6) AS level, round(b, 6) AS trend,
       |  round(l + 1 * b + sl[1], 6) AS f1,
       |  round(l + 2 * b + sl[2], 6) AS f2,
       |  round(l + 3 * b + sl[3], 6) AS f3
       |FROM w WHERE rk = 1 ORDER BY event_type""".stripMargin
  }
}
