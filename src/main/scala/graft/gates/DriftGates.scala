package graft
package gates

import Shared._

/** The gates whose plans call [[graft.ops.Drift]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object DriftGates {
  val all: Seq[Gate] = Seq(
    // distribution drift between two corpus slices: PSI over fixed bins
    // (the 100 TB path — shuffle width = bin count)
    // PSI: identical bin rule, dyadic 0.5-Laplace smoothing, contributions
    // summed in bin order
    Gate("q_psi_drift", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      graft.ops.Drift.psiDrift(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "value", lo = 0.0, hi = 500.0, bins = 10)
    })(
      smoothedBinCtes + """,
        |k AS (SELECT *, (p_a - p_b) * ln(p_a / p_b) AS contrib FROM p),
        |f AS (SELECT *,
        |    sum(contrib) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS psi_raw
        |  FROM k)
        |SELECT bin, c_a, c_b, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
        |  round(contrib, 6) AS contrib, round(psi_raw, 6) AS psi
        |FROM f ORDER BY bin""".stripMargin),
    // exact two-sample KS over the pooled distinct values (2-decimal
    // measures -> bounded value domain)
    // exact KS: per-distinct-value pooled ECDF gap; the argmax value is
    // located by exact float match against the max gap (identical
    // arithmetic on both sides)
    Gate("q_ks_drift", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      graft.ops.Drift.ksDrift(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), "value")
    })(
      """WITH a AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |           WHERE event_type = 'click'),
        |b AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |      WHERE event_type = 'purchase'),
        |pv AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |         CAST(sum(cb) AS BIGINT) AS cb
        |       FROM (SELECT v, 1 AS ca, 0 AS cb FROM a
        |             UNION ALL SELECT v, 0, 1 FROM b)
        |       GROUP BY v),
        |""".stripMargin + ksGapSql),
    // per-dimension embedding stats: the vector-side drift monitor
    Gate("q_emb_dim_stats", (s, d) =>
      graft.ops.Drift.embeddingDimStats(
        Tables.embeddings(s, d), "embedding"))(
      """WITH x AS (SELECT CAST(i AS BIGINT) AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings,
        |       UNNEST(range(1, len(embedding) + 1)) AS u(i))
        |SELECT dim, count(*) AS n,
        |  round(avg(x), 6) AS mean_x,
        |  round(stddev_samp(x), 6) AS std_x,
        |  min(x) AS min_x, max(x) AS max_x
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin),
    // linear-kernel MMD² between the even/odd label halves: the
    // aggregate embedding two-sample drift test + per-dim gaps
    // per-dimension embedding stats via 1-based array indexing
    // MMD replay: same dyadic 2^-10 component floor (exact sums any
    // order), exact-sum mean quotients, pinned dim-order fold
    Gate("q_mmd_drift", (s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d)
      graft.ops.Drift.mmdDrift(
        emb.where(col("label") % 2 === 0),
        emb.where(col("label") % 2 === 1), "embedding")
    })(
      """WITH qa AS (SELECT CAST(i - 1 AS INTEGER) AS dim,
        |    floor(CAST(embedding[i] AS DOUBLE) * 1024.0) / 1024.0 AS x
        |  FROM embeddings,
        |       UNNEST(range(1, len(embedding) + 1)) AS u(i)
        |  WHERE label % 2 = 0),
        |qb AS (SELECT CAST(i - 1 AS INTEGER) AS dim,
        |    floor(CAST(embedding[i] AS DOUBLE) * 1024.0) / 1024.0 AS x
        |  FROM embeddings,
        |       UNNEST(range(1, len(embedding) + 1)) AS u(i)
        |  WHERE label % 2 = 1),
        |sa AS (SELECT dim, sum(x) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM qa GROUP BY 1),
        |sb AS (SELECT dim, sum(x) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM qb GROUP BY 1),
        |m AS (SELECT sa.dim, sa.s / CAST(sa.n AS DOUBLE) AS ma,
        |    sb.s / CAST(sb.n AS DOUBLE) AS mb
        |  FROM sa JOIN sb ON sb.dim = sa.dim),
        |f AS (SELECT dim, ma, mb, ma - mb AS d FROM m),
        |g AS (SELECT *, sum(d * d) OVER (ORDER BY dim ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS mmd2
        |  FROM f)
        |SELECT dim, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(d, 6) AS mean_gap, round(mmd2, 6) AS mmd2
        |FROM g ORDER BY dim""".stripMargin),
    // KS separation of the score distributions (positives vs negatives)
    // — ksDrift re-pointed at the model-eval surface
    // KS separation of scores: q_ks_drift's exact machinery over the
    // scored corpus split by the truth label
    Gate("q_score_ks", (s, d) => {
      import org.apache.spark.sql.functions.{col, not}
      val sc = scoredDemo(s, d)
      graft.ops.Drift.ksDrift(sc.filter(col("actual")),
        sc.filter(not(col("actual"))), "score")
    })(
      demoWeightCtes + """,
        |sc AS (SELECT CAST(label % 2 = 1 AS INTEGER) AS l,
        |         round(1.0 / (1.0 + exp(-(list_dot_product(u.v, w.wv)
        |           + 0.1))), 6) AS s
        |       FROM u CROSS JOIN w),
        |pv AS (SELECT s AS v, CAST(sum(l) AS BIGINT) AS ca,
        |         CAST(sum(1 - l) AS BIGINT) AS cb
        |       FROM sc GROUP BY s),
        |""".stripMargin + ksGapSql),
    // Jensen-Shannon divergence over the same fixed bins as q_psi_drift
    // JSD: identical bins and smoothing as q_psi_drift, symmetric
    // divergence against the midpoint distribution
    Gate("q_js_drift", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      graft.ops.Drift.jsDivergence(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "value", lo = 0.0, hi = 500.0, bins = 10)
    })(
      smoothedBinCtes + """,
        |k AS (SELECT *, (p_a + p_b) / CAST(2 AS DOUBLE) AS m FROM p),
        |k2 AS (SELECT *, (p_a * ln(p_a / m) + p_b * ln(p_b / m))
        |         / CAST(2 AS DOUBLE) AS contrib FROM k),
        |f AS (SELECT *,
        |    sum(contrib) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS jsd_raw
        |  FROM k2)
        |SELECT bin, c_a, c_b, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
        |  round(contrib, 6) AS contrib, round(jsd_raw, 6) AS jsd
        |FROM f ORDER BY bin""".stripMargin),
    // standardized CUSUM changepoint score per event type over the daily
    // series (mean-shift detector + estimated shift day)
    Gate("q_cusum", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Drift.cusumChangepoint(daily, "event_type", "day", "total")
    })(
      dailyMomentCtes + """,
        |c AS (SELECT *, round(abs(sum(x - m) OVER (PARTITION BY event_type
        |        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW)), 6) AS ab
        |      FROM w)
        |SELECT event_type, max(n) AS n_obs,
        |  round(CASE WHEN max(sd) > 0
        |    THEN max(ab) / (max(sd) * sqrt(max(n))) END, 6)
        |    AS cusum_score,
        |  max(struct_pack(ab := ab, day := day)).day AS change_at
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Page-Hinkley sequential upward-shift monitor on the same daily
    // series (first λ-crossing, standardized units)
    // PH replay: same standardized series, pinned cumulative m_t and
    // running-min excursion, unrounded λ comparison in both engines
    Gate("q_page_hinkley", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Drift.pageHinkley(daily, "event_type", "day", "total",
        delta = 0.05, lambda = 3.0)
    })(
      dailyMomentCtes + """,
        |z AS (SELECT *, CASE WHEN sd > 0.0 THEN (x - m) / sd
        |        ELSE 0.0 END AS zz FROM w),
        |c AS (SELECT *, sum(zz - CAST(0.05 AS DOUBLE))
        |        OVER (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS mt
        |      FROM z),
        |p AS (SELECT *, mt - min(mt) OVER (PARTITION BY event_type
        |        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW) AS ph
        |      FROM c),
        |g AS (SELECT event_type, max(n) AS n_obs,
        |        round(max(ph), 6) AS ph_max,
        |        CAST(sum(CASE WHEN ph > 3.0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_over,
        |        min(CASE WHEN ph > 3.0 THEN day END) AS alarm_at
        |      FROM p GROUP BY 1)
        |SELECT event_type, n_obs, ph_max, n_over, alarm_at,
        |  n_over > 0 AS alarmed
        |FROM g ORDER BY event_type""".stripMargin),
    // Pettitt rank changepoint: the O(n²) pair statistic via the linear
    // rank identity U_t = 2·S_t − t(n+1); integer-exact U, closed-form
    // significance, segment means on both sides of the split
    // CUSUM: per-key window stats + cumulative excursion; argmax via
    // struct-max on (rounded |S|, day), ties to the later day
    // Pettitt replay: identical midrank / cumulative-rank / argmax
    // windows; U is integer-exact, exp() differences are absorbed by
    // the round-6 (fitLogistic precedent)
    Gate("q_pettitt", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      graft.ops.Drift.pettittChangepoint(daily, "event_type", "day",
        "total")
    })(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS total
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, CAST(total AS DOUBLE) AS x,
        |        rank() OVER (PARTITION BY event_type ORDER BY total)
        |          + (count(*) OVER (PARTITION BY event_type, total) - 1)
        |            / 2.0 AS rk,
        |        row_number() OVER (PARTITION BY event_type ORDER BY day)
        |          AS t,
        |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |          AS n
        |      FROM daily),
        |u AS (SELECT *, CAST(2.0 * sum(rk) OVER (PARTITION BY event_type
        |        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW) - t * (n + 1) AS BIGINT) AS uu
        |      FROM r WHERE 1 = 1),
        |st AS (SELECT event_type, max(n) AS n_obs,
        |         max(struct_pack(a := abs(uu), negt := -t, u := uu,
        |                         o := day)) AS best
        |       FROM u WHERE t < n GROUP BY 1),
        |m AS (SELECT u.event_type,
        |        round(sum(CASE WHEN u.t <= -st.best.negt THEN u.x END)
        |          / sum(CASE WHEN u.t <= -st.best.negt THEN 1 END), 6)
        |          AS mean_before,
        |        round(sum(CASE WHEN u.t > -st.best.negt THEN u.x END)
        |          / sum(CASE WHEN u.t > -st.best.negt THEN 1 END), 6)
        |          AS mean_after
        |      FROM u JOIN st ON st.event_type = u.event_type
        |      GROUP BY 1)
        |SELECT st.event_type, st.n_obs, st.best.o AS change_at,
        |  st.best.u AS u_max,
        |  round(least(CAST(1 AS DOUBLE), 2.0 * exp(-6.0 * st.best.u
        |    * st.best.u / (st.n_obs * st.n_obs * st.n_obs
        |      + st.n_obs * st.n_obs))), 6) AS p_value,
        |  m.mean_before, m.mean_after
        |FROM st JOIN m ON m.event_type = st.event_type
        |ORDER BY st.event_type""".stripMargin),
    // Benjamini-Hochberg FDR over the per-nation monthly-revenue
    // Pettitt changepoint family (the fleet-wide-scan guardrail)
    // BH replay: the q_pettitt machinery keyed by nation over monthly
    // revenue, then the step-up over the family frame in pinned rank
    // order (same unrounded thresholds)
    Gate("q_fdr", (s, d) => {
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
      val pv = graft.ops.Drift.pettittChangepoint(monthly, "n_name",
        "mi", "rev")
      graft.ops.Stats.fdrBh(pv, "n_name", "p_value", q = 0.05)
    })(
      """WITH mo AS (SELECT n_name AS k,
        |        year(o_orderdate) * 12 + month(o_orderdate) AS mi,
        |        round(sum(o_totalprice), 2) AS rev
        |      FROM orders JOIN customer ON c_custkey = o_custkey
        |      JOIN nation ON n_nationkey = c_nationkey
        |      GROUP BY 1, 2),
        |r AS (SELECT k, mi, CAST(rev AS DOUBLE) AS x,
        |        rank() OVER (PARTITION BY k ORDER BY rev)
        |          + (count(*) OVER (PARTITION BY k, rev) - 1) / 2.0
        |          AS rk,
        |        row_number() OVER (PARTITION BY k ORDER BY mi) AS t,
        |        CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |      FROM mo),
        |u AS (SELECT *, CAST(2.0 * sum(rk) OVER (PARTITION BY k
        |        ORDER BY mi ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW) - t * (n + 1) AS BIGINT) AS uu
        |      FROM r),
        |st AS (SELECT k, max(n) AS n_obs,
        |         max(struct_pack(a := abs(uu), negt := -t, u := uu))
        |           AS best
        |       FROM u WHERE t < n GROUP BY 1),
        |pv AS (SELECT k AS key, round(least(CAST(1 AS DOUBLE),
        |        2.0 * exp(-6.0 * best.u * best.u
        |          / (n_obs * n_obs * n_obs + n_obs * n_obs))), 6)
        |        AS p_value
        |      FROM st),
        |rk2 AS (SELECT key, p_value,
        |        row_number() OVER (ORDER BY p_value, key) AS rank,
        |        CAST(count(*) OVER () AS BIGINT) AS m FROM pv),
        |a AS (SELECT *,
        |        round(CAST(0.05 AS DOUBLE) * rank / m, 6)
        |          AS bh_threshold,
        |        round(least(CAST(1 AS DOUBLE), min(p_value * m / rank)
        |          OVER (ORDER BY rank ROWS BETWEEN CURRENT ROW AND
        |            UNBOUNDED FOLLOWING)), 6) AS p_adj,
        |        max(CASE WHEN p_value <= CAST(0.05 AS DOUBLE) * rank / m
        |          THEN rank ELSE 0 END) OVER () AS k_star
        |      FROM rk2)
        |SELECT key, p_value, rank, bh_threshold, p_adj,
        |  rank <= k_star AS rejected
        |FROM a ORDER BY rank""".stripMargin),
  )

  /** The binning shared by [[graft.ops.Drift.psiDrift]] and
    * [[graft.ops.Drift.jsDivergence]] for click (a) against purchase (b)
    * event values: 10 fixed bins over [0, 500) with out-of-range values
    * clamped to the edge bins, zero-filled counts `j(bin, c_a, c_b)` and
    * the dyadic 0.5-Laplace-smoothed shares `p(…, p_a, p_b)`.
    */
  private lazy val smoothedBinCtes: String =
    """WITH a AS (SELECT value FROM events WHERE event_type = 'click'),
      |b AS (SELECT value FROM events WHERE event_type = 'purchase'),
      |ba AS (SELECT least(greatest(CAST(floor(
      |           (CAST(value AS DOUBLE) - CAST(0 AS DOUBLE))
      |           / ((CAST(500 AS DOUBLE) - CAST(0 AS DOUBLE)) / 10))
      |           AS INTEGER), 0), 9) AS bin,
      |         count(*) AS c FROM a GROUP BY 1),
      |bb AS (SELECT least(greatest(CAST(floor(
      |           (CAST(value AS DOUBLE) - CAST(0 AS DOUBLE))
      |           / ((CAST(500 AS DOUBLE) - CAST(0 AS DOUBLE)) / 10))
      |           AS INTEGER), 0), 9) AS bin,
      |         count(*) AS c FROM b GROUP BY 1),
      |bins AS (SELECT CAST(i.i AS INTEGER) AS bin
      |         FROM UNNEST(range(10)) AS i(i)),
      |j AS (SELECT bins.bin,
      |        CAST(coalesce(ba.c, 0) AS BIGINT) AS c_a,
      |        CAST(coalesce(bb.c, 0) AS BIGINT) AS c_b
      |      FROM bins LEFT JOIN ba ON ba.bin = bins.bin
      |                LEFT JOIN bb ON bb.bin = bins.bin),
      |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
      |          CAST(sum(c_b) AS BIGINT) AS n_b FROM j),
      |p AS (SELECT j.*, n_a, n_b,
      |    (c_a + CAST(0.5 AS DOUBLE)) / (n_a + CAST(0.5 AS DOUBLE) * 10)
      |      AS p_a,
      |    (c_b + CAST(0.5 AS DOUBLE)) / (n_b + CAST(0.5 AS DOUBLE) * 10)
      |      AS p_b
      |  FROM j CROSS JOIN tot)""".stripMargin

  /** [[graft.ops.Drift.ksDrift]] over the pooled per-value counts
    * `pv(v, ca, cb)`: the exact ECDF gap at every distinct value, the
    * largest gap as ks_d and the smallest value where it occurs.
    */
  private lazy val ksGapSql: String =
    """tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
      |          CAST(sum(cb) AS BIGINT) AS n_b FROM pv),
      |g AS (SELECT pv.*, n_a, n_b,
      |    abs(CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      |          PRECEDING AND CURRENT ROW) AS BIGINT) / n_a
      |      - CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      |          PRECEDING AND CURRENT ROW) AS BIGINT) / n_b) AS gap
      |  FROM pv CROSS JOIN tot),
      |m AS (SELECT max(gap) AS maxgap FROM g)
      |SELECT max(n_a) AS n_a, max(n_b) AS n_b,
      |  round(max(maxgap), 6) AS ks_d,
      |  round(min(v), 6) AS at_value
      |FROM g CROSS JOIN m WHERE gap = maxgap""".stripMargin

  /** The daily series the changepoint monitors
    * [[graft.ops.Drift.cusumChangepoint]] and
    * [[graft.ops.Drift.pageHinkley]] read: per event type and day the
    * value total rounded to cents, then `w(…, x, m, sd, n)` with each
    * type's mean, sample stddev and day count.
    */
  private lazy val dailyMomentCtes: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    round(sum(value), 2) AS total
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, CAST(total AS DOUBLE) AS x,
      |        avg(CAST(total AS DOUBLE)) OVER (PARTITION BY event_type)
      |          AS m,
      |        stddev_samp(CAST(total AS DOUBLE))
      |          OVER (PARTITION BY event_type) AS sd,
      |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
      |          AS n
      |      FROM daily)""".stripMargin
}
