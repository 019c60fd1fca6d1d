package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import Shared._

/** The gates whose plans call [[graft.ops.Stats]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object StatsGates {
  val all: Seq[Gate] = Seq(
    // DP-shaped noisy per-source counts (seeded md5 Laplace inverse-CDF,
    // eps=1 — deterministic release, oracle replays the draw)
    Gate("q_dp_counts", (s, d) => graft.ops.Stats.dpNoisyCounts(
      Tables.documents(s, d), "source", epsilon = 1.0, seed = "dp1"))(
      """WITH g AS (SELECT source, count(*) AS n FROM documents
        |           GROUP BY 1),
        |u AS (SELECT source, n,
        |        (CAST(CAST('0x' || substr(md5('dp1_' || source), 1, 15)
        |                   AS BIGINT) % 1048576 AS DOUBLE) + 0.5)
        |          / 1048576.0 - 0.5 AS u
        |      FROM g)
        |SELECT source, n,
        |  round(n + -sign(u) * ln(1.0 - 2.0 * abs(u)) * 1.0, 6)
        |    AS noisy_n
        |FROM u ORDER BY source""".stripMargin),
    // Kaplan-Meier time-to-second-order survival per first-order
    // priority: right-censored at the corpus max date; both KM windows
    // run over the per-group distinct-duration frame
    Gate("q_survival", (s, d) => graft.ops.Stats.kaplanMeier(
      survivalSubjects(s, d, col("o_orderpriority")), "grp", "dur",
      "event"))(
      survivalRiskCtes + """,
        |sv AS (SELECT grp, t, n_risk, d_events,
        |        CASE WHEN max(CASE WHEN d_events = n_risk THEN 1
        |              ELSE 0 END) OVER (PARTITION BY grp ORDER BY t ASC
        |              ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
        |          ELSE round(exp(sum(CASE
        |              WHEN d_events > 0 AND d_events < n_risk
        |              THEN ln(1.0 - CAST(d_events AS DOUBLE)
        |                            / CAST(n_risk AS DOUBLE))
        |              ELSE 0.0 END)
        |            OVER (PARTITION BY grp ORDER BY t ASC
        |              ROWS UNBOUNDED PRECEDING)), 6) END AS survival
        |       FROM r)
        |SELECT grp, t, n_risk, d_events, survival FROM sv
        |WHERE d_events > 0 ORDER BY grp, t""".stripMargin),
    // Nelson-Aalen cumulative hazard on the same right-censored
    // time-to-second-order subjects (q_survival's additive twin)
    // Nelson-Aalen replay: identical subject construction, same pinned
    // ORDER BY t cumulative folds over exact-integer counts
    Gate("q_nelson_aalen", (s, d) => graft.ops.Stats.nelsonAalen(
      survivalSubjects(s, d, col("o_orderpriority")), "grp", "dur",
      "event"))(
      survivalRiskCtes + """,
        |na AS (SELECT grp, t, n_risk, d_events,
        |        round(sum(CAST(d_events AS DOUBLE)
        |            / CAST(n_risk AS DOUBLE)) OVER w, 6) AS cum_hazard,
        |        round(sum(CAST(d_events AS DOUBLE)
        |            * CAST(n_risk - d_events AS DOUBLE)
        |            / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)
        |               * CAST(n_risk AS DOUBLE))) OVER w, 6)
        |          AS hazard_var,
        |        round(exp(0.0 - sum(CAST(d_events AS DOUBLE)
        |            / CAST(n_risk AS DOUBLE)) OVER w), 6)
        |          AS breslow_survival
        |      FROM r
        |      WINDOW w AS (PARTITION BY grp ORDER BY t ASC
        |        ROWS UNBOUNDED PRECEDING))
        |SELECT grp, t, n_risk, d_events, cum_hazard, hazard_var,
        |  breslow_survival
        |FROM na WHERE d_events > 0 ORDER BY grp, t""".stripMargin),
    // log-rank test: do urgent-priority first orders reconvert at a
    // different rate than the rest? (q_survival's hypothesis test)
    // KM replay: identical ranked first/second-order prep, censor at the
    // max-date horizon, reverse-cumulative risk set, exp(Σ ln(1-d/n))
    // survival over the same unique (grp, t) order
    // log-rank replay: zero-filled times×sides grid, exact integer
    // at-risk/event counts, pinned U/V folds, chi-square constant
    Gate("q_logrank", (s, d) => graft.ops.Stats.logRank(
      survivalSubjects(s, d, when(col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH"), "fast").otherwise("slow")),
      "grp", "dur", "event"))(
      """WITH rk0 AS (SELECT o_custkey, o_orderdate, o_orderpriority,
        |        o_orderkey, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey) AS r FROM orders),
        |f AS (SELECT o_custkey, o_orderdate AS d1,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 'fast' ELSE 'slow' END AS grp
        |  FROM rk0 WHERE r = 1),
        |s2 AS (SELECT o_custkey, o_orderdate AS d2 FROM rk0
        |  WHERE r = 2),
        |hz AS (SELECT max(o_orderdate) AS h FROM orders),
        |subj AS (SELECT f.grp,
        |    CAST(CASE WHEN s2.d2 IS NOT NULL THEN date_diff('day',
        |        CAST(f.d1 AS DATE), CAST(s2.d2 AS DATE))
        |      ELSE date_diff('day', CAST(f.d1 AS DATE),
        |        CAST(hz.h AS DATE)) END AS BIGINT) AS t,
        |    CASE WHEN s2.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM f LEFT JOIN s2 ON s2.o_custkey = f.o_custkey
        |  CROSS JOIN hz),
        |g AS (SELECT min(grp) AS ga,
        |    CAST(count(DISTINCT grp) AS BIGINT) AS n_groups FROM subj),
        |tg AS (SELECT CASE WHEN grp = ga THEN 'A' ELSE 'B' END AS side,
        |    t, ev FROM subj, g),
        |cnt AS (SELECT side, t, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(sum(ev) AS BIGINT) AS d FROM tg GROUP BY 1, 2),
        |grid AS (SELECT s.side, tt.t, coalesce(c.n_at, 0) AS n_at,
        |    coalesce(c.d, 0) AS d
        |  FROM (SELECT DISTINCT t FROM cnt) tt
        |  CROSS JOIN (SELECT DISTINCT side FROM tg) s
        |  LEFT JOIN cnt c ON c.side = s.side AND c.t = tt.t),
        |rsk AS (SELECT *, CAST(sum(n_at) OVER (PARTITION BY side
        |    ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS n_risk FROM grid),
        |pt AS (SELECT t,
        |    CAST(coalesce(sum(CASE WHEN side = 'A' THEN d END), 0)
        |      AS BIGINT) AS da,
        |    CAST(coalesce(sum(CASE WHEN side = 'B' THEN d END), 0)
        |      AS BIGINT) AS db,
        |    CAST(coalesce(sum(CASE WHEN side = 'A' THEN n_risk END), 0)
        |      AS BIGINT) AS na,
        |    CAST(coalesce(sum(CASE WHEN side = 'B' THEN n_risk END), 0)
        |      AS BIGINT) AS nb
        |  FROM rsk GROUP BY 1),
        |flt AS (SELECT * FROM pt WHERE da + db > 0),
        |tm AS (SELECT t,
        |    CAST(da AS DOUBLE) - CAST(da + db AS DOUBLE)
        |      * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE) AS u,
        |    CASE WHEN CAST(na + nb AS DOUBLE) > 1.0 THEN
        |      CAST(da + db AS DOUBLE)
        |        * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |        * (CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |        * (CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
        |        / (CAST(na + nb AS DOUBLE) - 1.0)
        |      ELSE 0.0 END AS v
        |  FROM flt),
        |fold AS (SELECT
        |    sum(u) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS uu,
        |    sum(v) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS vv
        |  FROM tm),
        |one AS (SELECT uu, vv FROM fold LIMIT 1),
        |sm AS (SELECT
        |    CAST(sum(CASE WHEN side = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN side = 'B' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN side = 'A' THEN ev ELSE 0 END)
        |      AS BIGINT) AS events_a,
        |    CAST(sum(CASE WHEN side = 'B' THEN ev ELSE 0 END)
        |      AS BIGINT) AS events_b
        |  FROM tg)
        |SELECT n_a, n_b, events_a, events_b,
        |  round(uu, 6) AS observed_minus_expected,
        |  round(vv, 6) AS variance,
        |  round(CASE WHEN vv > 0.0 AND n_groups = 2
        |    THEN uu * uu / vv END, 6) AS chi2,
        |  CASE WHEN vv > 0.0 AND n_groups = 2
        |    THEN uu * uu / vv END > 3.841459 AS groups_differ_5pct
        |FROM one CROSS JOIN sm CROSS JOIN g""".stripMargin),
    // mutual information lang×source: per-cell PMI + contribution
    // decomposition (cell counts checkpointed; marginals + 1-row total
    // are cell-frame aggregates broadcast back)
    // MI replay: identical cell/marginal/total decomposition, ln-based
    // PMI and contribution at the same 6-decimal rounding
    Gate("q_mutual_info", (s, d) => graft.ops.Stats.mutualInformation(
      Tables.documents(s, d), "lang", "source"))(
      """WITH c AS (SELECT lang AS x, source AS y,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM documents
        |      WHERE lang IS NOT NULL AND source IS NOT NULL
        |      GROUP BY 1, 2),
        |nx AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx FROM c
        |       GROUP BY 1),
        |ny AS (SELECT y, CAST(sum(n) AS BIGINT) AS ny FROM c
        |       GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c)
        |SELECT c.x, c.y, c.n,
        |  round(ln(CAST(c.n AS DOUBLE) * t.nn
        |    / (CAST(nx.nx AS DOUBLE) * CAST(ny.ny AS DOUBLE))), 6)
        |    AS pmi,
        |  round((CAST(c.n AS DOUBLE) / t.nn) * ln(CAST(c.n AS DOUBLE)
        |    * t.nn / (CAST(nx.nx AS DOUBLE) * CAST(ny.ny AS DOUBLE))),
        |    6) AS contrib
        |FROM c JOIN nx ON nx.x = c.x JOIN ny ON ny.y = c.y CROSS JOIN t
        |ORDER BY c.x, c.y""".stripMargin),
    // per-type quantile drift odd-vs-even calendar days: the tail-aware
    // snapshot comparison PSI's fixed bins blur (did p99 move?)
    // SLA replay: same 2^-4 quantization, quantile_cont over the
    // quantized rows (identical multiset to the weighted percentile)
    // quantile-drift replay: two dyadic-grid quantile_cont passes
    // (odd/even calendar days), joined, deltas of the rounded values
    Gate("q_quantile_drift", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      graft.ops.Stats.quantileDrift(
        ev.filter(dayofmonth(col("ts")) % 2 === 1),
        ev.filter(dayofmonth(col("ts")) % 2 === 0),
        "event_type", "value", probs = Seq(0.5, 0.9, 0.99))
    })(
      """WITH qa AS (
        |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n_a,
        |    round(quantile_cont(vq, 0.5), 6) AS p50_a,
        |    round(quantile_cont(vq, 0.9), 6) AS p90_a,
        |    round(quantile_cont(vq, 0.99), 6) AS p99_a
        |  FROM (SELECT event_type,
        |          floor(CAST(value AS DOUBLE) * 16) / 16 AS vq
        |        FROM events
        |        WHERE day(CAST(ts AS DATE)) % 2 = 1
        |          AND event_type IS NOT NULL AND value IS NOT NULL)
        |  GROUP BY 1),
        |qb AS (
        |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n_b,
        |    round(quantile_cont(vq, 0.5), 6) AS p50_b,
        |    round(quantile_cont(vq, 0.9), 6) AS p90_b,
        |    round(quantile_cont(vq, 0.99), 6) AS p99_b
        |  FROM (SELECT event_type,
        |          floor(CAST(value AS DOUBLE) * 16) / 16 AS vq
        |        FROM events
        |        WHERE day(CAST(ts AS DATE)) % 2 = 0
        |          AND event_type IS NOT NULL AND value IS NOT NULL)
        |  GROUP BY 1)
        |SELECT qa.grp, n_a, n_b,
        |  p50_a, p50_b, p90_a, p90_b, p99_a, p99_b,
        |  round(p50_b - p50_a, 6) AS d_p50,
        |  round(p90_b - p90_a, 6) AS d_p90,
        |  round(p99_b - p99_a, 6) AS d_p99,
        |  greatest(abs(round(p50_b - p50_a, 6)),
        |    abs(round(p90_b - p90_a, 6)),
        |    abs(round(p99_b - p99_a, 6))) AS max_abs_shift
        |FROM qa JOIN qb ON qb.grp = qa.grp
        |ORDER BY qa.grp""".stripMargin),
    // per-type p50/p95/p99 SLA table: dyadic-grid weighted percentiles
    // (buffer bounded by distinct quantized values per group)
    Gate("q_latency_sla", (s, d) => graft.ops.Stats.groupedPercentiles(
      Tables.events(s, d), "event_type", "value",
      probs = Seq(0.5, 0.95, 0.99)))(
      """WITH q AS (SELECT event_type AS grp,
        |        floor(CAST(value AS DOUBLE) * 16) / 16 AS vq
        |      FROM events
        |      WHERE event_type IS NOT NULL AND value IS NOT NULL)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(quantile_cont(vq, 0.5), 6) AS p50,
        |  round(quantile_cont(vq, 0.95), 6) AS p95,
        |  round(quantile_cont(vq, 0.99), 6) AS p99
        |FROM q GROUP BY grp ORDER BY grp""".stripMargin),
    // chance-corrected agreement over the same scored frame: Cohen's
    // kappa (accuracy overstates under a skewed class mix)
    // kappa replay: same scored-demo chain; exact integer marginals,
    // pinned class folds, + 0.0 negative-zero guards
    Gate("q_kappa", (s, d) => graft.ops.Stats.cohenKappa(
      scoredDemo(s, d), "actual", "predicted"))(
      demoLogitCtes + """,
        |b AS (SELECT CAST(label % 2 = 1 AS VARCHAR) AS a,
        |        CAST(round(1.0 / (1.0 + exp(-z)), 6) > 0.5 AS VARCHAR) AS p
        |      FROM s),
        |cnt AS (SELECT a, p AS bb, CAST(count(*) AS BIGINT) AS c
        |        FROM b GROUP BY 1, 2),
        |ra AS (SELECT a AS cls, CAST(sum(c) AS BIGINT) AS n_a
        |       FROM cnt GROUP BY 1),
        |rb AS (SELECT bb AS cls, CAST(sum(c) AS BIGINT) AS n_b
        |       FROM cnt GROUP BY 1),
        |dg AS (SELECT a AS cls, CAST(sum(c) AS BIGINT) AS n_agree
        |       FROM cnt WHERE a = bb GROUP BY 1),
        |per AS (SELECT cls, coalesce(n_a, 0) AS n_a,
        |          coalesce(n_b, 0) AS n_b,
        |          coalesce(n_agree, 0) AS n_agree
        |        FROM ra FULL JOIN rb USING (cls)
        |             LEFT JOIN dg USING (cls)),
        |f AS (SELECT cls, n_a, n_b, n_agree,
        |    CAST(sum(n_a) OVER pin AS BIGINT) AS n,
        |    CAST(sum(n_agree) OVER pin AS BIGINT) AS ag,
        |    CAST(sum(n_a * n_b) OVER pin AS BIGINT) AS pe_num
        |  FROM per WINDOW pin AS (ORDER BY cls ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND UNBOUNDED FOLLOWING)),
        |g AS (SELECT *, CAST(ag AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
        |        CAST(pe_num AS DOUBLE) /
        |          (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS p_e
        |      FROM f)
        |SELECT cls, n_a, n_b, n_agree, n,
        |  round(p_o, 6) + 0.0 AS p_o, round(p_e, 6) + 0.0 AS p_e,
        |  round(CASE WHEN p_e < 1 THEN (p_o - p_e) / (1.0 - p_e) END, 6)
        |    + 0.0 AS kappa
        |FROM g ORDER BY cls""".stripMargin),
    // Spearman rank correlation (average ranks over the bounded
    // distinct-value domains)
    // Spearman: average ranks (min-rank + (ties-1)/2) then Pearson
    Gate("q_spearman", (s, d) => graft.ops.Stats.spearmanCorr(
      Tables.lineitem(s, d), "l_quantity", "l_discount"))(
      """WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
        |             CAST(l_discount AS DOUBLE) AS y
        |           FROM lineitem
        |           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |r AS (SELECT x, y,
        |    rank() OVER (ORDER BY x)
        |      + (count(*) OVER (PARTITION BY x) - 1) / CAST(2 AS DOUBLE)
        |      AS rx,
        |    rank() OVER (ORDER BY y)
        |      + (count(*) OVER (PARTITION BY y) - 1) / CAST(2 AS DOUBLE)
        |      AS ry
        |  FROM b)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  round(corr(rx, ry), 6) AS spearman
        |FROM r""".stripMargin),
    // chi-squared independence + Cramer's V over two categorical columns
    // chi-squared independence over the contingency table + Cramer's V
    Gate("q_chi_square", (s, d) => graft.ops.Stats.chiSquare(
      Tables.orders(s, d), "o_orderstatus", "o_orderpriority"))(
      """WITH o AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
        |             CAST(count(*) AS DOUBLE) AS obs
        |           FROM orders
        |           WHERE o_orderstatus IS NOT NULL
        |             AND o_orderpriority IS NOT NULL
        |           GROUP BY 1, 2),
        |c AS (SELECT *, sum(obs) OVER (PARTITION BY a) AS ra,
        |        sum(obs) OVER (PARTITION BY b) AS cb,
        |        sum(obs) OVER () AS nn
        |      FROM o),
        |e AS (SELECT *, ra * cb / nn AS exp FROM c),
        |s AS (SELECT CAST(max(nn) AS BIGINT) AS n,
        |        count(DISTINCT a) AS nr, count(DISTINCT b) AS nc,
        |        sum((obs - exp) * (obs - exp) / exp) AS chi2
        |      FROM e)
        |SELECT n, CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
        |  round(chi2, 6) AS chi2,
        |  round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 6) AS cramers_v
        |FROM s""".stripMargin),
    // per-key robust outlier profile via median absolute deviation
    // MAD outliers: exact interpolated medians both sides
    Gate("q_mad_outliers", (s, d) => graft.ops.Stats.madOutliers(
      Tables.events(s, d), "event_type", "value", k = 3.0))(
      """WITH r AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
        |           FROM events WHERE value IS NOT NULL),
        |m AS (SELECT k, quantile_cont(v, 0.5) AS med FROM r GROUP BY k),
        |d AS (SELECT r.k, r.v, abs(r.v - m.med) AS ad, m.med
        |      FROM r JOIN m USING (k)),
        |md AS (SELECT k, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY k)
        |SELECT d.k AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(max(d.med), 6) AS median, round(max(md.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.ad > 3.0 * md.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (k)
        |GROUP BY 1 ORDER BY event_type""".stripMargin),
    // per-key simple OLS from distributed moment sums
    // grouped OLS: identical closed forms over the five moment sums
    Gate("q_grouped_ols", (s, d) => graft.ops.Stats.groupedOls(
      Tables.lineitem(s, d), "l_returnflag", "l_quantity",
      "l_extendedprice"))(
      """WITH b AS (SELECT l_returnflag AS k,
        |             CAST(l_quantity AS DOUBLE) AS x,
        |             CAST(l_extendedprice AS DOUBLE) AS y
        |           FROM lineitem
        |           WHERE l_quantity IS NOT NULL
        |             AND l_extendedprice IS NOT NULL),
        |s AS (SELECT k, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |        sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy,
        |        sum(y * y) AS syy
        |      FROM b GROUP BY k),
        |c AS (SELECT k, n, sx, sy,
        |        n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
        |        n * sxy - sx * sy AS cv
        |      FROM s)
        |SELECT k AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN dx <> 0 THEN cv / dx END, 6) AS slope,
        |  round(CASE WHEN dx <> 0
        |    THEN (sy - (cv / dx) * sx) / n END, 6) AS intercept,
        |  round(CASE WHEN dx <> 0 AND dy <> 0
        |    THEN cv * cv / (dx * dy) END, 6) AS r2
        |FROM c ORDER BY l_returnflag""".stripMargin),
    // Theil-Sen robust trend of monthly revenue per nation: median of
    // pairwise slopes + median intercept over the bounded month grid
    // Theil-Sen replay: identical monthly rollup, pairwise-slope median
    // (continuous quantile, both engines' h = (n-1)/2 interpolation),
    // then the intercept median over the slope-joined base
    Gate("q_theil_sen", (s, d) => {
      import org.apache.spark.sql.functions._
      val monthly = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.nation(s, d),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("mi"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.ops.Stats.theilSen(monthly, "n_name", "mi", "rev")
    })(
      """WITH m AS (SELECT n_name AS k,
        |        CAST(year(o_orderdate) * 12 + month(o_orderdate)
        |          AS DOUBLE) AS x,
        |        round(sum(o_totalprice), 2) AS y
        |      FROM orders JOIN customer ON c_custkey = o_custkey
        |      JOIN nation ON n_nationkey = c_nationkey
        |      GROUP BY 1, 2),
        |s AS (SELECT k, quantile_cont(sl, 0.5) AS slope FROM (
        |        SELECT a.k, (b.y - a.y) / (b.x - a.x) AS sl
        |        FROM m a JOIN m b ON b.k = a.k AND a.x < b.x)
        |      GROUP BY k),
        |i AS (SELECT m.k, CAST(count(*) AS BIGINT) AS n_points,
        |        round(any_value(s.slope), 6) AS slope,
        |        round(quantile_cont(m.y - s.slope * m.x, 0.5), 6)
        |          AS intercept
        |      FROM m JOIN s ON s.k = m.k GROUP BY m.k)
        |SELECT k, n_points, slope, intercept FROM i
        |ORDER BY k""".stripMargin),
    // Mann-Kendall monotone-trend test on the same per-nation monthly
    // revenue series (q_theil_sen's significance gate)
    Gate("q_mann_kendall", (s, d) => {
      import org.apache.spark.sql.functions._
      val monthly = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.nation(s, d),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("mi"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.ops.Stats.mannKendall(monthly, "n_name", "mi", "rev")
    })(
      """WITH m AS (SELECT n_name AS k,
        |        CAST(year(o_orderdate) * 12 + month(o_orderdate)
        |          AS DOUBLE) AS x,
        |        round(sum(o_totalprice), 2) AS y
        |      FROM orders JOIN customer ON c_custkey = o_custkey
        |      JOIN nation ON n_nationkey = c_nationkey
        |      GROUP BY 1, 2),
        |s AS (SELECT a.k,
        |        CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT)
        |          AS s
        |      FROM m a JOIN m b ON b.k = a.k AND a.x < b.x
        |      GROUP BY 1),
        |t AS (SELECT k,
        |        CAST(sum(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT)
        |          AS tie_term,
        |        CAST(sum(tt) AS BIGINT) AS n_points
        |      FROM (SELECT k, y, CAST(count(*) AS BIGINT) AS tt
        |            FROM m GROUP BY 1, 2) GROUP BY 1),
        |v AS (SELECT s.k, s.s, t.n_points, t.tie_term,
        |        CAST(n_points * (n_points - 1) * (2 * n_points + 5)
        |          - tie_term AS DOUBLE) / 18.0 AS var_s
        |      FROM s JOIN t ON t.k = s.k),
        |z AS (SELECT *,
        |        round(CASE WHEN var_s > 0.0 AND s > 0
        |            THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |          WHEN var_s > 0.0 AND s < 0
        |            THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |          ELSE 0.0 END, 6) AS z
        |      FROM v)
        |SELECT k, n_points, s, tie_term, round(var_s, 6) AS var_s, z,
        |  CASE WHEN z > 1.959964 THEN 'increasing'
        |    WHEN z < -1.959964 THEN 'decreasing'
        |    ELSE 'no_trend' END AS trend
        |FROM z ORDER BY k""".stripMargin),
    // Welch's two-sample t-test between click and purchase value
    // distributions (1-row scalar frames; Welch-Satterthwaite df)
    // Welch t: per-side scalar moments, then the t/df arithmetic
    Gate("q_welch_t", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      graft.ops.Stats.welchT(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), "value")
    })(
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
        |             avg(value) AS m_a, var_samp(value) AS v_a
        |           FROM events
        |           WHERE event_type = 'click' AND value IS NOT NULL),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
        |        avg(value) AS m_b, var_samp(value) AS v_b
        |      FROM events
        |      WHERE event_type = 'purchase' AND value IS NOT NULL)
        |SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
        |  round(CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |    (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) END, 6) AS t_stat,
        |  round(CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |    (v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
        |      / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
        |        + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) END, 6) AS df
        |FROM a CROSS JOIN b""".stripMargin),
    // Mann-Whitney U with average ranks + tie-corrected z over the
    // bounded pooled distinct-value domain
    // Mann-Whitney: identical average-rank windows over the pooled
    // distinct-value domain, tie-corrected sigma
    Gate("q_mann_whitney", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      graft.ops.Stats.mannWhitney(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), "value")
    })(
      """WITH pv AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT *, ca + cb AS t,
        |    CAST(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) - (ca + cb)
        |      + (ca + cb + 1) / 2.0 AS rank
        |  FROM pv),
        |s AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb,
        |        sum(ca * rank) AS ra,
        |        sum(CAST(t AS DOUBLE) * t * t - t) AS ties
        |      FROM r)
        |SELECT na AS n_a, nb AS n_b,
        |  round(ra - na * (na + 1) / 2.0, 2) AS u_stat,
        |  round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
        |    / sqrt(na * nb / 12.0 * ((na + nb + 1)
        |      - ties / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))), 6)
        |    AS z
        |FROM s""".stripMargin),
    // k-group rank test: Kruskal-Wallis H across ALL event types at once
    // (tie-corrected, with the ε² effect size) — the ANOVA question the
    // two-sample mann_whitney gate can't answer in one pass
    // Kruskal-Wallis replay: same distinct-value average ranks as the
    // mann_whitney oracle, per-group rank sums (exact half-integers), Σ
    // R²/n folded in PINNED group order, tie-corrected H + ε²
    Gate("q_kruskal", (s, d) => graft.ops.Stats.kruskalWallis(
      Tables.events(s, d), "event_type", "value"))(
      """WITH cell AS (
        |  SELECT CAST(event_type AS VARCHAR) AS grp,
        |    CAST(value AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cell
        |       GROUP BY v),
        |r AS (SELECT v, t,
        |    CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) - t
        |      + (t + 1) / 2.0 AS rank
        |  FROM pv),
        |g AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_g,
        |        sum(c * rank) AS r_g
        |      FROM cell JOIN r USING (v) GROUP BY grp),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |          CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM r),
        |gs AS (SELECT grp, n_g, r_g,
        |    sum(r_g * r_g / n_g) OVER (ORDER BY grp ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s_rank,
        |    CAST(count(*) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS k_groups
        |  FROM g),
        |f AS (SELECT gs.*, t.n, t.ties,
        |    12.0 / (n * (n + 1)) * s_rank - 3.0 * (n + 1) AS h_raw,
        |    1.0 - ties / (CAST(n AS DOUBLE) * n * n - n) AS tie_c
        |  FROM gs CROSS JOIN tot t)
        |SELECT grp, n_g, round(r_g, 2) AS rank_sum,
        |  round(r_g / n_g, 6) AS mean_rank, k_groups, n,
        |  round(h_raw, 6) AS h,
        |  round(CASE WHEN tie_c > 0 THEN h_raw / tie_c END, 6)
        |    AS h_tie_corrected,
        |  k_groups - 1 AS df_h,
        |  round(CASE WHEN n > k_groups AND tie_c > 0
        |    THEN (h_raw / tie_c - k_groups + 1) / (n - k_groups) END, 6)
        |    AS epsilon_sq
        |FROM f ORDER BY grp""".stripMargin),
    // parametric sibling: one-way ANOVA F + eta-squared across the same
    // event types (do the MEANS differ, and how much variance does the
    // grouping explain?) — exact dyadic sums, pinned group folds
    // ANOVA replay: same dyadic lattice, same exact sums, same pinned
    // group folds and rounding sequence; + 0.0 negative-zero guards
    Gate("q_anova", (s, d) => graft.ops.Stats.anovaOneWay(
      Tables.events(s, d), "event_type", "value", gridBits = 6))(
      """WITH q AS (
        |  SELECT CAST(event_type AS VARCHAR) AS grp,
        |    floor(CAST(value AS DOUBLE) * 64) / 64 AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
        |        sum(v) AS s_g, sum(v * v) AS q_g
        |      FROM q GROUP BY grp),
        |w AS (SELECT grp, n_g, s_g, q_g,
        |    CAST(sum(n_g) OVER pin AS BIGINT) AS n,
        |    CAST(count(*) OVER pin AS BIGINT) AS k_groups,
        |    sum(s_g) OVER pin AS s_all,
        |    sum(q_g) OVER pin AS q_all,
        |    sum(s_g * s_g / n_g) OVER pin AS ssb_sum
        |  FROM g WINDOW pin AS (ORDER BY grp ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND UNBOUNDED FOLLOWING)),
        |f AS (SELECT *, ssb_sum - s_all * s_all / n AS ssb,
        |        q_all - s_all * s_all / n AS sst
        |      FROM w),
        |h AS (SELECT *, sst - ssb AS ssw FROM f)
        |SELECT grp, n_g, round(s_g / n_g, 6) AS mean_g, k_groups, n,
        |  round(ssb, 6) + 0.0 AS ss_between,
        |  round(ssw, 6) + 0.0 AS ss_within,
        |  k_groups - 1 AS df_between, n - k_groups AS df_within,
        |  round(CASE WHEN k_groups > 1 AND n > k_groups AND ssw > 0
        |    THEN (ssb / (k_groups - 1)) / (ssw / (n - k_groups)) END, 6)
        |    + 0.0 AS f_stat,
        |  round(CASE WHEN sst > 0 THEN ssb / sst END, 6) + 0.0 AS eta_sq
        |FROM h ORDER BY grp""".stripMargin),
    // ordered-trend test: does the high-value rate rise across the
    // week? Cochran-Armitage over day-of-week scores 1..7 — the one-df
    // monotone alternative chi-square ignores
    // trend replay: Spark dayofweek is 1=Sunday, DuckDB's is 0=Sunday
    // (+1 aligns); exact integer sums in pinned score order
    Gate("q_trend_test", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.ops.Stats.cochranArmitage(
        Tables.events(s, d).select(
          dayofweek(col("ts")).as("dow"),
          when(col("value") > 50.0, 1L).otherwise(0L).as("hit")),
        "dow", "hit")
    })(
      """WITH b AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS score,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS hit
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(hit) AS BIGINT) AS successes
        |      FROM b GROUP BY 1),
        |w AS (SELECT score, n, successes,
        |    CAST(sum(n) OVER pin AS BIGINT) AS N_tot,
        |    CAST(sum(successes) OVER pin AS BIGINT) AS R_tot,
        |    CAST(sum(successes * score) OVER pin AS BIGINT) AS rs,
        |    CAST(sum(n * score) OVER pin AS BIGINT) AS ns,
        |    CAST(sum(n * score * score) OVER pin AS BIGINT) AS ns2
        |  FROM g WINDOW pin AS (ORDER BY score ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND UNBOUNDED FOLLOWING)),
        |f AS (SELECT *,
        |    CAST(R_tot AS DOUBLE) / CAST(N_tot AS DOUBLE) AS p
        |  FROM w),
        |h AS (SELECT *,
        |    CAST(rs AS DOUBLE) - p * CAST(ns AS DOUBLE) AS t,
        |    p * (1.0 - p) * (CAST(ns2 AS DOUBLE) -
        |      CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE)
        |        / CAST(N_tot AS DOUBLE)) AS v
        |  FROM f)
        |SELECT score, n, successes,
        |  round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS rate,
        |  N_tot AS n_total,
        |  round(t, 6) + 0.0 AS t_stat,
        |  round(CASE WHEN v > 0 THEN t / sqrt(v) END, 6) + 0.0 AS z
        |FROM h ORDER BY score""".stripMargin),
    // A/B readout: md5 arm split, high-value-purchase conversion rates
    // + two-proportion z (plain purchase saturates at 100% of users)
    Gate("q_ab_test", (s, d) => graft.ops.Stats.abTestReport(
      Tables.events(s, d), "user_id", "event_type", "value", "purchase",
      minValue = 200.0, seed = "exp1"))(
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        |arms AS (SELECT uid,
        |    CASE WHEN CAST('0x' || substr(
        |        md5('exp1_' || CAST(uid AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM u),
        |cv AS (SELECT DISTINCT user_id AS uid FROM events
        |       WHERE event_type = 'purchase' AND value >= 200.0),
        |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(CASE WHEN cv.uid IS NULL THEN 0 ELSE 1 END)
        |          AS BIGINT) AS n_converted
        |      FROM arms LEFT JOIN cv ON cv.uid = arms.uid
        |      GROUP BY 1),
        |s AS (SELECT sum(CASE WHEN arm = 'A' THEN n_users END) AS na,
        |        sum(CASE WHEN arm = 'A' THEN n_converted END) AS ca,
        |        sum(CASE WHEN arm = 'B' THEN n_users END) AS nb,
        |        sum(CASE WHEN arm = 'B' THEN n_converted END) AS cb
        |      FROM g),
        |z AS (SELECT round(
        |        (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |         - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |        sqrt(CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)
        |          * (1.0 - CAST(ca + cb AS DOUBLE)
        |                   / CAST(na + nb AS DOUBLE))
        |          * (1.0 / CAST(na AS DOUBLE)
        |             + 1.0 / CAST(nb AS DOUBLE))), 6) AS z
        |      FROM s)
        |SELECT arm, n_users, n_converted,
        |  round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
        |    AS rate, z
        |FROM g CROSS JOIN z ORDER BY arm""".stripMargin),
    // pre-experiment power analysis: users/days needed per candidate
    // lift over the observed purchase-conversion baseline
    // power-analysis replay: exact-integer baseline scalars, literal
    // z constants, same single-expression n formula
    Gate("q_power", (s, d) => graft.ops.Stats.powerAnalysis(
      Tables.events(s, d), "user_id", "ts", "event_type", "value",
      "purchase", minValue = 200.0))(
      """WITH u AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM
        |    (SELECT DISTINCT user_id FROM events)),
        |cv AS (SELECT CAST(count(*) AS BIGINT) AS n_conv FROM
        |    (SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'purchase' AND value >= 200.0)),
        |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_user_days,
        |    CAST(count(DISTINCT d) AS BIGINT) AS n_days FROM
        |    (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |     FROM events)),
        |b AS (SELECT n_users, n_conv,
        |    CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p1,
        |    CAST(n_user_days AS DOUBLE) / CAST(n_days AS DOUBLE)
        |      AS daily_users
        |  FROM u CROSS JOIN cv CROSS JOIN tr),
        |l AS (SELECT b.*, CAST(u.l AS DOUBLE) AS rel_lift
        |  FROM b CROSS JOIN
        |    UNNEST(CAST([0.02, 0.05, 0.1, 0.2] AS DOUBLE[])) AS u(l)),
        |c AS (SELECT *, p1 * (1.0 + rel_lift) AS p2 FROM l),
        |n AS (SELECT *,
        |    CASE WHEN p2 < 1.0 AND p1 > 0.0 THEN
        |      ceil((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
        |        * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
        |        * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        |        / ((p2 - p1) * (p2 - p1))) END AS nn
        |  FROM c)
        |SELECT rel_lift, n_users, n_conv,
        |  round(p1, 6) AS baseline_rate, round(p2, 6) AS target_rate,
        |  CAST(nn AS BIGINT) AS n_per_arm,
        |  CASE WHEN nn IS NOT NULL THEN
        |    CAST(ceil(2.0 * CAST(nn AS DOUBLE) / daily_users)
        |      AS BIGINT) END AS days_to_run
        |FROM n ORDER BY rel_lift""".stripMargin),
    // CUPED variance-reduced readout: pre-cutoff spend as the control
    // covariate, adjusted per-arm means + theta/rho2/z
    // CUPED replay: per-user pre/post rounded sums, md5 arms, pooled
    // moment scalars, conditional arm sums — same guards, same literals
    Gate("q_cuped", (s, d) => graft.ops.Stats.cupedReport(
      Tables.events(s, d), "user_id", "ts", "value",
      cutoff = "2024-01-16 00:00:00", seed = "cuped1"))(
      """WITH per AS (SELECT user_id AS u,
        |    round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN value ELSE 0.0 END), 2) AS x,
        |    round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN value ELSE 0.0 END), 2) AS y
        |  FROM events GROUP BY 1),
        |a AS (SELECT x, y,
        |    CASE WHEN CAST('0x' || substr(
        |        md5('cuped1_' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM per),
        |g0 AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |        sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy,
        |        sum(y * y) AS syy FROM a),
        |g1 AS (SELECT n, sx,
        |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
        |    n * sxy - sx * sy AS cv FROM g0),
        |g AS (SELECT n, sx,
        |    CASE WHEN dx <> 0.0 THEN cv / dx END AS theta,
        |    CASE WHEN dx <> 0.0 AND dy <> 0.0
        |      THEN cv * cv / (dx * dy) END AS rho2,
        |    CASE WHEN dx <> 0.0 THEN dy / (n * n)
        |      - (cv / (n * n)) * (cv / (n * n)) / (dx / (n * n)) END
        |      AS s2cv
        |  FROM g1),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    sum(x) AS sxa, sum(y) AS sya FROM a GROUP BY 1),
        |s AS (SELECT
        |    sum(CASE WHEN arm = 'A'
        |      THEN CAST(n_users AS DOUBLE) END) AS na,
        |    sum(CASE WHEN arm = 'A' THEN sxa END) AS xa,
        |    sum(CASE WHEN arm = 'A' THEN sya END) AS ya,
        |    sum(CASE WHEN arm = 'B'
        |      THEN CAST(n_users AS DOUBLE) END) AS nb,
        |    sum(CASE WHEN arm = 'B' THEN sxa END) AS xb,
        |    sum(CASE WHEN arm = 'B' THEN sya END) AS yb
        |  FROM arms),
        |z AS (SELECT round(theta, 6) AS theta,
        |    round(rho2, 6) AS var_reduction,
        |    round(CASE WHEN s2cv > 0.0 THEN
        |      ((ya / na - yb / nb) - theta * (xa / na - xb / nb))
        |      / sqrt(s2cv * (1.0 / na + 1.0 / nb)) END, 6) AS z_adj
        |  FROM s CROSS JOIN g)
        |SELECT arm, n_users,
        |  round(sxa / CAST(n_users AS DOUBLE), 6) AS mean_pre,
        |  round(sya / CAST(n_users AS DOUBLE), 6) AS mean_post,
        |  round(sya / CAST(n_users AS DOUBLE)
        |    - g.theta * (sxa / CAST(n_users AS DOUBLE) - g.sx / g.n), 6)
        |    AS adj_mean_post,
        |  z.theta, z.var_reduction, z.z_adj
        |FROM arms CROSS JOIN g CROSS JOIN z
        |ORDER BY arm""".stripMargin),
    // sample-ratio-mismatch guardrail on the md5 split
    // SRM replay: exact distinct-user conditional counts, same chi2
    // expression and critical constant
    Gate("q_srm", (s, d) => graft.ops.Stats.srmCheck(
      Tables.events(s, d), "user_id", seed = "exp1"))(
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        |a AS (SELECT CASE WHEN CAST('0x' || substr(
        |    md5('exp1_' || CAST(uid AS VARCHAR)), 1, 15) AS BIGINT)
        |    % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM u),
        |s AS (SELECT
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM a),
        |e AS (SELECT *,
        |    CAST(n_a + n_b AS DOUBLE) * CAST(0.5 AS DOUBLE) AS ea,
        |    CAST(n_a + n_b AS DOUBLE)
        |      * (1.0 - CAST(0.5 AS DOUBLE)) AS eb
        |  FROM s),
        |c AS (SELECT *, CASE WHEN ea > 0.0 AND eb > 0.0 THEN
        |    (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
        |      / ea
        |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
        |      / eb END AS chi2
        |  FROM e)
        |SELECT n_a, n_b, round(ea, 6) AS expected_a,
        |  round(chi2, 6) AS chi2,
        |  chi2 > 3.841459 AS srm_detected
        |FROM c""".stripMargin),
    // quantile treatment effects: per-decile treated-vs-control gap
    // of the per-user spend distribution
    // QTE replay: per-arm quantile_cont over the dyadic value lattice,
    // per-decile gap
    Gate("q_qte", (s, d) => graft.ops.Stats.quantileTreatmentEffects(
      Tables.events(s, d), "user_id", "value", seed = "qte1"))(
      """WITH per AS (SELECT user_id AS u,
        |    CAST(round(sum(value), 2) AS DOUBLE) AS m
        |  FROM events GROUP BY 1),
        |a AS (SELECT floor(m * 16.0) / 16.0 AS vq,
        |    CASE WHEN CAST('0x' || substr(
        |        md5('qte1_' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM per),
        |ea AS (SELECT quantile_cont(vq, [0.1, 0.2, 0.3, 0.4, 0.5,
        |    0.6, 0.7, 0.8, 0.9]) AS e FROM a WHERE arm = 'A'),
        |eb AS (SELECT quantile_cont(vq, [0.1, 0.2, 0.3, 0.4, 0.5,
        |    0.6, 0.7, 0.8, 0.9]) AS e FROM a WHERE arm = 'B')
        |SELECT CAST(u.i AS DOUBLE) / 10.0 AS quantile,
        |  round(ea.e[CAST(u.i AS INTEGER)], 6) AS q_control,
        |  round(eb.e[CAST(u.i AS INTEGER)], 6) AS q_treated,
        |  round(eb.e[CAST(u.i AS INTEGER)]
        |    - ea.e[CAST(u.i AS INTEGER)], 6) AS qte
        |FROM UNNEST(range(1, 10)) AS u(i)
        |CROSS JOIN ea CROSS JOIN eb
        |ORDER BY quantile""".stripMargin),
    // two-model uplift deciles: who does the treatment move, observed
    // vs model-predicted per score decile
    // uplift replay: two prefixed Newton chains (per-arm fits), dyadic
    // score grid, quantile_cont decile edges, exact-count rates
    Gate("q_uplift", (s, d) => graft.ops.Stats.upliftReport(
      Tables.events(s, d), "user_id", "event_type", "value",
      "purchase", minValue = 200.0, engageType = "view",
      seed = "upl1"))(
      {
      s"""WITH per AS (SELECT user_id AS u,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS x,
         |    CAST(max(CASE WHEN event_type = 'purchase'
         |      AND value >= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS y
         |  FROM events GROUP BY 1),
         |ar AS (SELECT x, y,
         |    CASE WHEN CAST('0x' || substr(
         |        md5('upl1_' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT)
         |        % 2 = 0 THEN 'A' ELSE 'B' END AS arm
         |  FROM per),
         |st AS (SELECT avg(x) AS m, stddev_samp(x) AS sd FROM ar),
         |std AS (SELECT (x - m) / sd AS zz, y, arm FROM ar, st),
         |za AS (SELECT y, zz AS z FROM std WHERE arm = 'A'),
         |zc AS (SELECT y, zz AS z FROM std WHERE arm = 'B'),
         |${newtonChainSql(4, "za", "a")},
         |${newtonChainSql(4, "zc", "c")},
         |ba AS (SELECT round(b0, 6) + 0.0 AS a0,
         |    round(b1, 6) + 0.0 AS a1 FROM ab4r),
         |bc AS (SELECT round(b0, 6) + 0.0 AS c0,
         |    round(b1, 6) + 0.0 AS c1 FROM cb4r),
         |sc AS (SELECT y, arm,
         |    floor(((1.0 / (1.0 + exp(0.0 - (c0 + c1 * zz))))
         |      - (1.0 / (1.0 + exp(0.0 - (a0 + a1 * zz)))))
         |      * 256.0) / 256.0 AS su
         |  FROM std, ba, bc),
         |ed AS (SELECT quantile_cont(su, [0.1, 0.2, 0.3, 0.4, 0.5,
         |    0.6, 0.7, 0.8, 0.9]) AS e FROM sc),
         |bk AS (SELECT y, arm, su,
         |    1 + (CASE WHEN su >= e[1] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[2] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[3] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[4] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[5] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[6] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[7] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[8] THEN 1 ELSE 0 END)
         |      + (CASE WHEN su >= e[9] THEN 1 ELSE 0 END) AS bucket
         |  FROM sc, ed),
         |pb AS (SELECT bucket,
         |    CAST(coalesce(sum(CASE WHEN arm = 'B' THEN 1 END), 0)
         |      AS BIGINT) AS n_treated,
         |    CAST(coalesce(sum(CASE WHEN arm = 'B' THEN y END), 0.0)
         |      AS BIGINT) AS conv_treated,
         |    CAST(coalesce(sum(CASE WHEN arm = 'A' THEN 1 END), 0)
         |      AS BIGINT) AS n_control,
         |    CAST(coalesce(sum(CASE WHEN arm = 'A' THEN y END), 0.0)
         |      AS BIGINT) AS conv_control,
         |    avg(su) AS pu
         |  FROM bk GROUP BY 1)
         |SELECT bucket, n_treated, conv_treated, n_control,
         |  conv_control,
         |  round(CASE WHEN n_treated > 0
         |    THEN CAST(conv_treated AS DOUBLE)
         |      / CAST(n_treated AS DOUBLE) END, 6) AS rate_treated,
         |  round(CASE WHEN n_control > 0
         |    THEN CAST(conv_control AS DOUBLE)
         |      / CAST(n_control AS DOUBLE) END, 6) AS rate_control,
         |  round(CASE WHEN n_treated > 0 AND n_control > 0
         |    THEN CAST(conv_treated AS DOUBLE)
         |        / CAST(n_treated AS DOUBLE)
         |      - CAST(conv_control AS DOUBLE)
         |        / CAST(n_control AS DOUBLE) END, 6)
         |    AS observed_uplift,
         |  round(pu, 6) AS predicted_uplift
         |FROM pb ORDER BY bucket""".stripMargin
    }),
    // always-valid sequential monitor: daily mSPRT lambda and the
    // running always-valid p over cumulative arm conversions
    // mSPRT replay: first-touch rollups, zero-filled days×arms grid,
    // exact cumulative counts, same Λ expression, running-min p
    Gate("q_msprt", (s, d) => graft.ops.Stats.msprtCurve(
      Tables.events(s, d), "user_id", "ts", "event_type", "value",
      "purchase", minValue = 200.0, seed = "seq1"))(
      """WITH seen AS (SELECT user_id AS u,
        |    min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
        |sa AS (SELECT u, d0,
        |    CASE WHEN CAST('0x' || substr(
        |        md5('seq1_' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM seen),
        |cv AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS dc
        |  FROM events WHERE event_type = 'purchase' AND value >= 200.0
        |  GROUP BY 1),
        |pu AS (SELECT sa.arm, sa.d0, cv.dc
        |  FROM sa LEFT JOIN cv ON cv.u = sa.u),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |arms AS (SELECT DISTINCT arm FROM pu),
        |nu AS (SELECT arm, d0 AS day, CAST(count(*) AS BIGINT) AS nu
        |  FROM pu GROUP BY 1, 2),
        |ncv AS (SELECT arm, dc AS day, CAST(count(*) AS BIGINT) AS nc
        |  FROM pu WHERE dc IS NOT NULL GROUP BY 1, 2),
        |grid AS (SELECT a.arm, d.day, coalesce(nu.nu, 0) AS nu,
        |    coalesce(ncv.nc, 0) AS nc
        |  FROM days d CROSS JOIN arms a
        |  LEFT JOIN nu ON nu.arm = a.arm AND nu.day = d.day
        |  LEFT JOIN ncv ON ncv.arm = a.arm AND ncv.day = d.day),
        |cum AS (SELECT arm, day,
        |    CAST(sum(nu) OVER (PARTITION BY arm ORDER BY day ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n,
        |    CAST(sum(nc) OVER (PARTITION BY arm ORDER BY day ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS c
        |  FROM grid),
        |pd AS (SELECT day,
        |    CAST(coalesce(sum(CASE WHEN arm = 'A' THEN n END), 0)
        |      AS BIGINT) AS n_a,
        |    CAST(coalesce(sum(CASE WHEN arm = 'A' THEN c END), 0)
        |      AS BIGINT) AS conv_a,
        |    CAST(coalesce(sum(CASE WHEN arm = 'B' THEN n END), 0)
        |      AS BIGINT) AS n_b,
        |    CAST(coalesce(sum(CASE WHEN arm = 'B' THEN c END), 0)
        |      AS BIGINT) AS conv_b
        |  FROM cum GROUP BY 1),
        |t0 AS (SELECT *,
        |    CAST(conv_a + conv_b AS DOUBLE)
        |      / CAST(n_a + n_b AS DOUBLE) AS pb
        |  FROM pd),
        |t1 AS (SELECT *,
        |    CASE WHEN CAST(n_a AS DOUBLE) > 0.0
        |        AND CAST(n_b AS DOUBLE) > 0.0
        |      THEN CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |        - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) END
        |      AS th,
        |    CASE WHEN CAST(n_a AS DOUBLE) > 0.0
        |        AND CAST(n_b AS DOUBLE) > 0.0
        |        AND pb > 0.0 AND pb < 1.0
        |      THEN pb * (1.0 - pb) * (1.0 / CAST(n_a AS DOUBLE)
        |        + 1.0 / CAST(n_b AS DOUBLE)) END AS v
        |  FROM t0),
        |t2 AS (SELECT *,
        |    sqrt(v / (v + 0.0625)) * exp(th * th * 0.0625
        |      / (2.0 * v * (v + 0.0625))) AS lam
        |  FROM t1),
        |t3 AS (SELECT *,
        |    min(1.0 / lam) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS mn
        |  FROM t2),
        |t4 AS (SELECT *, CASE WHEN mn IS NOT NULL
        |    THEN least(1.0, mn) END AS p FROM t3)
        |SELECT day, n_a, conv_a, n_b, conv_b,
        |  round(th, 6) AS theta, round(lam, 6) AS lambda,
        |  round(p, 6) AS p_always_valid,
        |  p < 0.05 AS significant
        |FROM t4 ORDER BY day""".stripMargin),
    // difference-in-differences on the user panel: per-arm spend
    // change around the cutoff, paired-diff SE
    // DiD replay: per-user rounded pre/post sums, md5 arms, paired-
    // diff moments, same guards and literals
    Gate("q_did", (s, d) => graft.ops.Stats.didReport(
      Tables.events(s, d), "user_id", "ts", "value",
      cutoff = "2024-01-16 00:00:00", seed = "did1"))(
      """WITH per AS (SELECT user_id AS u,
        |    round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN value ELSE 0.0 END), 2) AS pre,
        |    round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN value ELSE 0.0 END), 2) AS post
        |  FROM events GROUP BY 1),
        |a AS (SELECT pre, post, post - pre AS d,
        |    CASE WHEN CAST('0x' || substr(
        |        md5('did1_' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM per),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    sum(pre) AS sp, sum(post) AS so, sum(d) AS sd,
        |    sum(d * d) AS sdd FROM a GROUP BY 1),
        |s AS (SELECT
        |    sum(CASE WHEN arm = 'A'
        |      THEN CAST(n_users AS DOUBLE) END) AS na,
        |    sum(CASE WHEN arm = 'A' THEN sd END) AS sda,
        |    sum(CASE WHEN arm = 'A' THEN sdd END) AS sdda,
        |    sum(CASE WHEN arm = 'B'
        |      THEN CAST(n_users AS DOUBLE) END) AS nb,
        |    sum(CASE WHEN arm = 'B' THEN sd END) AS sdb,
        |    sum(CASE WHEN arm = 'B' THEN sdd END) AS sddb
        |  FROM arms),
        |e0 AS (SELECT *, sdb / nb - sda / na AS did,
        |    CASE WHEN na > 1.0
        |      THEN (sdda - sda * sda / na) / (na - 1.0) END AS va,
        |    CASE WHEN nb > 1.0
        |      THEN (sddb - sdb * sdb / nb) / (nb - 1.0) END AS vb
        |  FROM s),
        |e AS (SELECT round(did, 6) AS did,
        |    round(sqrt(va / na + vb / nb), 6) AS se,
        |    round(CASE WHEN sqrt(va / na + vb / nb) > 0.0
        |      THEN did / sqrt(va / na + vb / nb) END, 6) AS z
        |  FROM e0)
        |SELECT arm, n_users,
        |  round(sp / CAST(n_users AS DOUBLE), 6) AS mean_pre,
        |  round(so / CAST(n_users AS DOUBLE), 6) AS mean_post,
        |  round(sd / CAST(n_users AS DOUBLE), 6) AS mean_change,
        |  e.did, e.se, e.z
        |FROM arms CROSS JOIN e ORDER BY arm""".stripMargin),
    // Poisson-bootstrap CI for the mean order value: 64 seeded
    // replicates, rank-based percentile interval
    // Poisson-bootstrap replay: same md5 dyadic uniforms, same fixed
    // CDF thresholds, exact order-statistic CI ranks (4th/61st of 64),
    // PINNED b-order folds for the replicate mean/se
    Gate("q_bootstrap_ci", (s, d) => graft.ops.Stats.bootstrapCi(
      Tables.orders(s, d), "o_orderkey", "o_totalprice",
      reps = 64, seed = "bs1"))(
      """WITH base AS (SELECT o_orderkey AS id,
        |    CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(x) / CAST(count(*) AS DOUBLE) AS pm FROM base),
        |rep AS (SELECT r.b, x,
        |    (CAST(CAST('0x' || substr(md5('bs1_' || CAST(r.b AS VARCHAR)
        |        || '_' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
        |  FROM base CROSS JOIN UNNEST(range(0, 64)) AS r(b)),
        |w AS (SELECT b, x,
        |    (CASE WHEN u > 0.3678794412 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.7357588823 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.9196986029 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.9810118431 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.9963401532 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.9994058151 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.9999167589 THEN 1 ELSE 0 END)
        |    + (CASE WHEN u > 0.9999897509 THEN 1 ELSE 0 END) AS w
        |  FROM rep),
        |ests AS (SELECT b,
        |    CASE WHEN sum(w) > 0
        |      THEN sum(w * x) / CAST(sum(w) AS DOUBLE) END AS est
        |  FROM w GROUP BY 1),
        |rk AS (SELECT b, est,
        |    row_number() OVER (ORDER BY est NULLS FIRST, b) AS rk,
        |    sum(est) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS s1,
        |    sum(est * est) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS s2
        |  FROM ests),
        |s AS (SELECT max(s1) AS s1, max(s2) AS s2,
        |    sum(CASE WHEN rk = 2 THEN est END) AS lo,
        |    sum(CASE WHEN rk = 63 THEN est END) AS hi
        |  FROM rk)
        |SELECT n, 64 AS reps, round(pm, 6) AS point_mean,
        |  round(s1 / 64.0, 6) AS boot_mean,
        |  round(sqrt(greatest((s2 - s1 * s1 / 64.0) / 63.0,
        |    CAST(0.0 AS DOUBLE))), 6) AS boot_se,
        |  round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
        |FROM s CROSS JOIN g""".stripMargin),
    // cluster-jackknife SE of revenue-per-order with customer units
    // (delete-one-customer pseudo-values, dyadic lattice throughout)
    // jackknife replay: identical 2^-6 unit-sum lattice, 2^-30
    // pseudo-value/squared-deviation lattices — every sum exact in any
    // order, single correctly-rounded quotients between
    Gate("q_jackknife", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.ops.Stats.jackknifeRatio(
        Tables.orders(s, d).withColumn("one", lit(1.0)),
        "o_custkey", "o_totalprice", "one")
    })(
      """WITH per AS (SELECT o_custkey AS u,
        |    floor(sum(o_totalprice) * 64.0) / 64.0 AS nq,
        |    floor(sum(CAST(1.0 AS DOUBLE)) * 64.0) / 64.0 AS dq
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(nq) AS DOUBLE) AS sn,
        |    CAST(sum(dq) AS DOUBLE) AS sd,
        |    CAST(count(*) AS BIGINT) AS m FROM per),
        |ps AS (SELECT floor((t.sn - nq) / (t.sd - dq) * 1073741824.0)
        |      / 1073741824.0 AS ti, t.sn, t.sd, t.m
        |  FROM per CROSS JOIN t WHERE t.sd - dq <> 0.0),
        |mn AS (SELECT CAST(sum(ti) AS DOUBLE) AS s1,
        |    CAST(count(*) AS BIGINT) AS mm FROM ps),
        |e AS (SELECT ps.*, mn.mm,
        |    mn.s1 / CAST(mn.mm AS DOUBLE) AS tbar
        |  FROM ps CROSS JOIN mn),
        |g AS (SELECT max(m) AS n_units, max(mm) AS n_pseudo,
        |    max(sn / sd) AS th,
        |    CAST(sum(floor((ti - tbar) * (ti - tbar) * 1073741824.0)
        |      / 1073741824.0) AS DOUBLE) AS sse,
        |    CAST(max(mm) AS DOUBLE) AS md
        |  FROM g0) ,
        |g0 AS (SELECT * FROM e)
        |SELECT n_units, n_pseudo, round(th, 6) AS theta,
        |  round(sqrt((md - 1.0) / md * sse), 6) AS jk_se,
        |  round(th - CAST(1.959964 AS DOUBLE)
        |    * sqrt((md - 1.0) / md * sse), 6) AS ci_lo,
        |  round(th + CAST(1.959964 AS DOUBLE)
        |    * sqrt((md - 1.0) / md * sse), 6) AS ci_hi
        |FROM g""".stripMargin),
    // propensity-score stratification: does the BUILDING segment spend
    // more once account balance (the confounder proxy) is stratified out
    // propensity-stratification replay: Scala-generated Newton chain
    // (4 rounds) + dyadic propensity grid + pinned ATT folds
    Gate("q_psm", (s, d) => {
      import org.apache.spark.sql.functions._
      val cust = Tables.customer(s, d)
      val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("__rev"))
      val units = cust
        .join(rev, cust("c_custkey") === rev("o_custkey"), "left")
        .select(col("c_acctbal"),
          when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0)
            .as("treated"),
          coalesce(col("__rev"), lit(0.0)).as("outcome"))
      graft.ops.Stats.psmStratified(units, "c_acctbal", "treated",
        "outcome")
    })(
      psmOracle(4)),
    // deterministic count-min-sketch heavy hitters over part keys,
    // exact counts alongside (the collision error made visible)
    // CMS replay: identical md5 bucket arithmetic per depth, the same
    // width-bounded counter tables, min-over-depths estimate
    Gate("q_cms_heavy", (s, d) => graft.ops.Stats.cmsHeavyHitters(
      Tables.lineitem(s, d), "l_partkey"))(
      """WITH c AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
        |        CAST(count(*) AS BIGINT) AS exact_n
        |      FROM lineitem GROUP BY 1),
        |h AS (SELECT key, exact_n,
        |    CAST('0x' || substr(md5('cms0_' || key), 1, 15) AS BIGINT)
        |      % 256 AS b0,
        |    CAST('0x' || substr(md5('cms1_' || key), 1, 15) AS BIGINT)
        |      % 256 AS b1,
        |    CAST('0x' || substr(md5('cms2_' || key), 1, 15) AS BIGINT)
        |      % 256 AS b2,
        |    CAST('0x' || substr(md5('cms3_' || key), 1, 15) AS BIGINT)
        |      % 256 AS b3
        |  FROM c),
        |t0 AS (SELECT b0, CAST(sum(exact_n) AS BIGINT) AS c0 FROM h
        |       GROUP BY 1),
        |t1 AS (SELECT b1, CAST(sum(exact_n) AS BIGINT) AS c1 FROM h
        |       GROUP BY 1),
        |t2 AS (SELECT b2, CAST(sum(exact_n) AS BIGINT) AS c2 FROM h
        |       GROUP BY 1),
        |t3 AS (SELECT b3, CAST(sum(exact_n) AS BIGINT) AS c3 FROM h
        |       GROUP BY 1),
        |e AS (SELECT h.key, h.exact_n,
        |        least(t0.c0, t1.c1, t2.c2, t3.c3) AS estimate
        |      FROM h JOIN t0 USING (b0) JOIN t1 USING (b1)
        |      JOIN t2 USING (b2) JOIN t3 USING (b3))
        |SELECT key, estimate, exact_n,
        |  estimate - exact_n AS overestimate
        |FROM e ORDER BY estimate DESC, key LIMIT 20""".stripMargin),
    // Benford first-digit screen over order totals
    // Benford: leading significant digit via DECIMAL(18,2) string
    // rendering (engine-exact), expected = ln(1+1/d)/ln(10)
    Gate("q_benford", (s, d) => graft.ops.Stats.benford(
      Tables.orders(s, d), "o_totalprice"))(
      """WITH c AS (
        |  SELECT CAST(substr(regexp_replace(
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |      '[^1-9]', '', 'g'), 1, 1) AS INTEGER) AS digit,
        |    count(*) AS cnt
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
        |  GROUP BY 1),
        |d AS (SELECT CAST(u.d AS INTEGER) AS digit
        |      FROM UNNEST(range(1, 10)) AS u(d)),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
        |SELECT d.digit, CAST(coalesce(c.cnt, 0) AS BIGINT) AS n,
        |  round(coalesce(c.cnt, 0) / CAST(t.n AS DOUBLE), 6) AS share,
        |  round(ln(1.0 + 1.0 / d.digit) / ln(10.0), 6) AS expected,
        |  round(round(coalesce(c.cnt, 0) / CAST(t.n AS DOUBLE), 6)
        |    - round(ln(1.0 + 1.0 / d.digit) / ln(10.0), 6), 6)
        |    AS deviation
        |FROM d LEFT JOIN c ON c.digit = d.digit CROSS JOIN t
        |ORDER BY d.digit""".stripMargin),
  )

  /** The right-censored time-to-second-order subjects the survival gates
    * share: each customer's first order (its group `grp`), the days to
    * the second order (`event` = 1) or, with none, to the last order
    * date in the corpus (`event` = 0), as `dur`.
    */
  private def survivalSubjects(s: SparkSession, d: String,
                               grp: Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val ranked = Tables.orders(s, d)
      .withColumn("__r", row_number().over(w))
    val first = ranked.filter(col("__r") === 1)
      .select(col("o_custkey"), col("o_orderdate").as("__d1"),
        grp.as("grp"))
    val second = ranked.filter(col("__r") === 2)
      .select(col("o_custkey"), col("o_orderdate").as("__d2"))
    val horizon = Tables.orders(s, d)
      .agg(max(col("o_orderdate")).as("__hz"))
    first.join(second, Seq("o_custkey"), "left")
      .crossJoin(broadcast(horizon))
      .withColumn("dur", when(col("__d2").isNotNull,
        datediff(col("__d2"), col("__d1")))
        .otherwise(datediff(col("__hz"), col("__d1"))))
      .withColumn("event",
        when(col("__d2").isNotNull, 1).otherwise(0))
  }

  /** [[survivalSubjects]] grouped by first-order priority, in SQL: per
    * (grp, t) the subjects `n_at` and events `d_events`, then the
    * reverse-cumulative risk set `r(…, n_risk)` that
    * [[graft.ops.Stats.kaplanMeier]] and [[graft.ops.Stats.nelsonAalen]]
    * both fold.
    */
  private lazy val survivalRiskCtes: String =
    """WITH rk AS (SELECT o_custkey, o_orderdate, o_orderpriority,
      |        o_orderkey, row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate, o_orderkey) AS r FROM orders),
      |f AS (SELECT o_custkey, o_orderdate AS d1,
      |        o_orderpriority AS grp FROM rk WHERE r = 1),
      |s2 AS (SELECT o_custkey, o_orderdate AS d2 FROM rk WHERE r = 2),
      |hz AS (SELECT max(o_orderdate) AS h FROM orders),
      |subj AS (SELECT f.grp,
      |    CASE WHEN s2.d2 IS NOT NULL THEN date_diff('day',
      |        CAST(f.d1 AS DATE), CAST(s2.d2 AS DATE))
      |      ELSE date_diff('day', CAST(f.d1 AS DATE),
      |        CAST(hz.h AS DATE)) END AS t,
      |    CASE WHEN s2.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM f LEFT JOIN s2 ON s2.o_custkey = f.o_custkey
      |  CROSS JOIN hz),
      |c AS (SELECT grp, t, CAST(count(*) AS BIGINT) AS n_at,
      |        CAST(sum(ev) AS BIGINT) AS d_events
      |      FROM subj GROUP BY 1, 2),
      |r AS (SELECT grp, t, n_at, d_events,
      |        CAST(sum(n_at) OVER (PARTITION BY grp ORDER BY t DESC
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      |      FROM c)""".stripMargin

  /** Unrolled fixed-round Newton chain for a 1-feature logistic fit —
    * the q_fit_logistic CTE sequence as a generator: expects a CTE
    * `z(y, z, ...)` in scope, emits `b0r..b{rounds}r` (b0r = zero
    * init), each round one 6-sum scalar pass with the same expression
    * text as [[graft.ops.Models.fitLogistic1]].
    */
  private def newtonChainSql(rounds: Int, src: String = "z",
                             pfx: String = ""): String = {
    val init = s"${pfx}b0r AS (SELECT 0.0 AS b0, 0.0 AS b1)"
    val steps = (0 until rounds).map { k =>
      s"""${pfx}p$k AS (SELECT y, z,
         |    1.0 / (1.0 + exp(0.0 - (b0 + b1 * z)))
         |    AS p, b0, b1 FROM $src, ${pfx}b${k}r),
         |${pfx}s$k AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    sum(y - p) AS g0, sum((y - p) * z) AS g1,
         |    sum(p * (1.0 - p)) AS h00, sum(p * (1.0 - p) * z) AS h01,
         |    sum(p * (1.0 - p) * z * z) AS h11,
         |    any_value(b0) AS b0, any_value(b1) AS b1 FROM ${pfx}p$k),
         |${pfx}b${k + 1}r AS (SELECT n,
         |    b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
         |    b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
         |  FROM ${pfx}s$k)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Oracle for q_psm: outcome join, standardization, the
    * [[newtonChainSql]] propensity fit, dyadic 2^-8 propensity grid,
    * quantile_cont bucket edges (the rfm replay rule), and pinned-order
    * ATT/naive folds.
    */
  private def psmOracle(rounds: Int): String = {
    s"""WITH rev AS (SELECT o_custkey, round(sum(o_totalprice), 2)
       |    AS rev FROM orders GROUP BY 1),
       |u AS (SELECT CAST(c_acctbal AS DOUBLE) AS x,
       |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END
       |      AS t,
       |    CAST(coalesce(rev, 0.0) AS DOUBLE) AS yo
       |  FROM customer LEFT JOIN rev ON o_custkey = c_custkey),
       |st AS (SELECT avg(x) AS m, stddev_samp(x) AS sd FROM u),
       |z AS (SELECT t AS y, (x - m) / sd AS z, yo FROM u, st),
       |${newtonChainSql(rounds)},
       |br AS (SELECT round(b0, 6) + 0.0 AS b0, round(b1, 6) + 0.0 AS b1
       |  FROM b${rounds}r),
       |sc AS (SELECT yo, y AS t,
       |    floor((1.0 / (1.0 + exp(0.0 - (b0 + b1 * z)))) * 256.0)
       |      / 256.0 AS pq
       |  FROM z, br),
       |ed AS (SELECT quantile_cont(pq, [0.2, 0.4, 0.6, 0.8]) AS e
       |  FROM sc),
       |bk AS (SELECT yo, t,
       |    1 + CASE WHEN pq >= e[1] THEN 1 ELSE 0 END
       |      + CASE WHEN pq >= e[2] THEN 1 ELSE 0 END
       |      + CASE WHEN pq >= e[3] THEN 1 ELSE 0 END
       |      + CASE WHEN pq >= e[4] THEN 1 ELSE 0 END AS bucket
       |  FROM sc, ed),
       |per AS (SELECT bucket, CAST(sum(t) AS BIGINT) AS n_treated,
       |    CAST(sum(1.0 - t) AS BIGINT) AS n_control,
       |    sum(t * yo) AS syt, sum((1.0 - t) * yo) AS syc
       |  FROM bk GROUP BY 1),
       |f AS (SELECT *,
       |    CASE WHEN n_treated > 0
       |      THEN syt / CAST(n_treated AS DOUBLE) END AS mt,
       |    CASE WHEN n_control > 0
       |      THEN syc / CAST(n_control AS DOUBLE) END AS mc
       |  FROM per),
       |g AS (SELECT *, CASE WHEN n_treated > 0 AND n_control > 0
       |    THEN mt - mc END AS d FROM f),
       |w AS (SELECT *,
       |    sum(CASE WHEN n_treated > 0 AND n_control > 0
       |      THEN d * CAST(n_treated AS DOUBLE) END) OVER pin AS attn,
       |    sum(CASE WHEN n_treated > 0 AND n_control > 0
       |      THEN CAST(n_treated AS DOUBLE) END) OVER pin AS attd,
       |    CAST(sum(n_treated) OVER pin AS BIGINT) AS tnt,
       |    CAST(sum(n_control) OVER pin AS BIGINT) AS tnc,
       |    sum(syt) OVER pin AS tst, sum(syc) OVER pin AS tsc
       |  FROM g WINDOW pin AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT bucket, n_treated, n_control,
       |  round(mt, 6) AS mean_treated, round(mc, 6) AS mean_control,
       |  round(d, 6) AS diff,
       |  round(CASE WHEN attd > 0.0 THEN attn / attd END, 6) AS att,
       |  round(CASE WHEN tnt > 0 AND tnc > 0
       |    THEN tst / CAST(tnt AS DOUBLE) - tsc / CAST(tnc AS DOUBLE)
       |    END, 6) AS naive_diff
       |FROM w ORDER BY bucket""".stripMargin
  }
}
