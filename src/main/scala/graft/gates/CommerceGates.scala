package graft
package gates

import Shared._

/** The gates whose plans call [[graft.ops.Commerce]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object CommerceGates {
  val all: Seq[Gate] = Seq(
    // RFM quintile grid: per-customer recency/frequency/monetary scored
    // by dyadic-grid weighted-percentile edges (winsorize discipline)
    Gate("q_rfm", (s, d) => graft.ops.Commerce.rfmSegments(
      Tables.orders(s, d), "o_custkey", "o_orderdate", "o_totalprice"))(
      """WITH hz AS (SELECT max(o_orderdate) AS h FROM orders),
        |per AS (SELECT o_custkey AS cust,
        |    floor(CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      CAST(any_value(hz.h) AS DATE)) AS DOUBLE) * 16) / 16
        |      AS rec,
        |    floor(CAST(count(*) AS DOUBLE) * 16) / 16 AS freq,
        |    floor(CAST(round(sum(o_totalprice), 2) AS DOUBLE) * 16) / 16
        |      AS mon
        |  FROM orders CROSS JOIN hz GROUP BY o_custkey),
        |er AS (SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS e
        |       FROM per),
        |ef AS (SELECT quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS e
        |       FROM per),
        |em AS (SELECT quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS e
        |       FROM per),
        |s AS (SELECT mon,
        |    6 - (1 + CASE WHEN rec >= er.e[1] THEN 1 ELSE 0 END
        |           + CASE WHEN rec >= er.e[2] THEN 1 ELSE 0 END
        |           + CASE WHEN rec >= er.e[3] THEN 1 ELSE 0 END
        |           + CASE WHEN rec >= er.e[4] THEN 1 ELSE 0 END)
        |      AS r_score,
        |    1 + CASE WHEN freq >= ef.e[1] THEN 1 ELSE 0 END
        |      + CASE WHEN freq >= ef.e[2] THEN 1 ELSE 0 END
        |      + CASE WHEN freq >= ef.e[3] THEN 1 ELSE 0 END
        |      + CASE WHEN freq >= ef.e[4] THEN 1 ELSE 0 END AS f_score,
        |    1 + CASE WHEN mon >= em.e[1] THEN 1 ELSE 0 END
        |      + CASE WHEN mon >= em.e[2] THEN 1 ELSE 0 END
        |      + CASE WHEN mon >= em.e[3] THEN 1 ELSE 0 END
        |      + CASE WHEN mon >= em.e[4] THEN 1 ELSE 0 END AS m_score
        |  FROM per CROSS JOIN er CROSS JOIN ef CROSS JOIN em)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(avg(mon), 6) AS avg_monetary
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // revenue concentration: binned Lorenz/Gini + top-1%/10% shares
    // RFM replay: same per-customer rollup, same 2^-4 quantization, and
    // quantile_cont over the quantized rows (identical multiset to the
    // Spark weighted-histogram percentile), same >= edge comparisons
    // binned Lorenz/Gini replay: dyadic 2^11 bin floors, exact rank-sum
    // identity with ties, PINNED bin-order folds, whole-customer top-k
    Gate("q_gini", (s, d) => graft.ops.Commerce.giniConcentration(
      Tables.orders(s, d), "o_custkey", "o_totalprice"))(
      """WITH per AS (SELECT o_custkey,
        |    CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS r
        |  FROM orders GROUP BY 1),
        |h AS (SELECT floor(r / 2048.0) * 2048.0 AS v,
        |    CAST(count(*) AS BIGINT) AS cnt FROM per GROUP BY 1),
        |c1 AS (SELECT v, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
        |    CAST(sum(cnt) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS d,
        |    CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
        |    sum(v * cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS tot
        |  FROM h),
        |c2 AS (SELECT *,
        |    sum(v * ((c - cnt) * cnt + cnt * (cnt + 1) / 2.0)) OVER (
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |      FOLLOWING) AS rs,
        |    sum(v * (least(d, floor(n * CAST(0.01 AS DOUBLE)))
        |      - least(d - cnt, floor(n * CAST(0.01 AS DOUBLE))))) OVER (
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |      FOLLOWING) AS t1,
        |    sum(v * (least(d, floor(n * CAST(0.1 AS DOUBLE)))
        |      - least(d - cnt, floor(n * CAST(0.1 AS DOUBLE))))) OVER (
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |      FOLLOWING) AS t10
        |  FROM c1)
        |SELECT n AS n_customers,
        |  count(*) OVER () AS n_bins,
        |  round(tot, 2) AS total_rev,
        |  round(2.0 * rs / (n * tot)
        |    - (n + CAST(1.0 AS DOUBLE)) / n, 6) AS gini,
        |  round(t1 / tot, 6) AS top1_share,
        |  round(t10 / tot, 6) AS top10_share
        |FROM c2 LIMIT 1""".stripMargin),
    // cohort LTV ramp: first-order-month cohorts, cumulative revenue
    // per cohort customer by month age (window over cohorts×months)
    // cohort LTV replay: month-truncated cohorts, per-(cohort, age)
    // revenue rounded BEFORE the cumulative window, same cohort sizes
    Gate("q_cohort_ltv", (s, d) => graft.ops.Commerce.cohortLtv(
      Tables.orders(s, d), "o_custkey", "o_orderdate", "o_totalprice"))(
      """WITH c AS (SELECT o_custkey AS cust,
        |        CAST(date_trunc('month', min(o_orderdate)) AS DATE)
        |          AS cohort
        |      FROM orders GROUP BY 1),
        |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
        |       FROM c GROUP BY 1),
        |a AS (SELECT c.cohort,
        |        CAST(date_diff('month', c.cohort,
        |          CAST(date_trunc('month', o.o_orderdate) AS DATE))
        |          AS INTEGER) AS age_months,
        |        round(sum(o.o_totalprice), 2) AS revenue
        |      FROM orders o JOIN c ON c.cust = o.o_custkey
        |      GROUP BY 1, 2),
        |w AS (SELECT cohort, age_months, revenue,
        |        sum(revenue) OVER (PARTITION BY cohort
        |          ORDER BY age_months ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM a)
        |SELECT w.cohort, w.age_months, sz.n_customers, w.revenue,
        |  round(w.cum / CAST(sz.n_customers AS DOUBLE), 6)
        |    AS ltv_per_customer
        |FROM w JOIN sz ON sz.cohort = w.cohort
        |ORDER BY w.cohort, w.age_months""".stripMargin),
    // market concentration: HHI / effective firms / CR4 / entropy of
    // per-customer revenue shares within each market segment
    // concentration replay: rounded per-firm revenue, pinned-order
    // share/HHI/CR4/entropy folds over the market-partitioned frame
    Gate("q_concentration", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.ops.Commerce.marketConcentration(
        Tables.orders(s, d).join(Tables.customer(s, d),
          col("c_custkey") === col("o_custkey")),
        "c_mktsegment", "c_custkey", "o_totalprice")
    })(
      """WITH per AS (SELECT c_mktsegment AS market,
        |        c_custkey AS firm,
        |        round(sum(o_totalprice), 2) AS rev
        |      FROM orders JOIN customer ON c_custkey = o_custkey
        |      GROUP BY 1, 2),
        |f AS (SELECT market, firm, rev,
        |        sum(rev) OVER wp AS tot,
        |        row_number() OVER (PARTITION BY market
        |          ORDER BY rev DESC, firm) AS rnk,
        |        CAST(count(*) OVER (PARTITION BY market) AS BIGINT)
        |          AS n
        |      FROM per
        |      WINDOW wp AS (PARTITION BY market ORDER BY firm
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |        FOLLOWING)),
        |s AS (SELECT *, rev / tot AS sh FROM f),
        |a AS (SELECT *,
        |        sum(sh * sh) OVER wp AS hhi,
        |        sum(CASE WHEN rnk <= 4 THEN sh ELSE 0.0 END) OVER wp
        |          AS cr4,
        |        sum(CASE WHEN sh > 0.0 THEN -(sh * ln(sh))
        |          ELSE 0.0 END) OVER wp AS ent,
        |        row_number() OVER (PARTITION BY market ORDER BY firm)
        |          AS r1
        |      FROM s
        |      WINDOW wp AS (PARTITION BY market ORDER BY firm
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |        FOLLOWING))
        |SELECT market, n AS n_firms, round(hhi, 6) AS hhi,
        |  round(1.0 / hhi, 6) AS effective_firms,
        |  round(cr4, 6) AS cr4, round(ent, 6) AS entropy
        |FROM a WHERE r1 = 1 ORDER BY market""".stripMargin),
    // ABC inventory classes: parts ranked by revenue, class A to the
    // 80% cumulative-share line, B to 95%, C the tail — the actionable
    // companion to the Gini/Lorenz concentration gates
    // ABC replay: per-item 2-decimal revenue, pinned (revenue DESC,
    // item) cumulative fold, identical boundary literals
    Gate("q_abc", (s, d) => {
      import org.apache.spark.sql.functions._
      // integer-exact revenue: 2-decimal price and discount become
      // integer cents (round-to-nearest of a value within 1 ulp of an
      // integer is safe on both engines), the per-item total sums in
      // BIGINT 1e-4 units, and HALF_UP happens in integer arithmetic
      // ((s + 50) div 100) — float rounding of the raw product flips
      // the published cent on exact .xx5 boundaries (measured: 113
      // items at sf0.01)
      val e4 = (round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long")))
      val per = Tables.lineitem(s, d)
        .where(col("l_partkey").isNotNull)
        .groupBy(col("l_partkey"))
        .agg(sum(e4).as("__s"))
        .select(col("l_partkey"),
          (expr("CAST((__s + 50) DIV 100 AS DOUBLE)") / 100.0)
            .as("rev"))
      graft.ops.Commerce.abcClasses(per, "l_partkey", "rev")
    })(
      """WITH p0 AS (SELECT l_partkey AS item,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS s
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |per AS (SELECT item,
        |    round(CAST((s + 50) // 100 AS DOUBLE) / CAST(100 AS DOUBLE),
        |      2) AS revenue
        |  FROM p0),
        |w AS (SELECT item, revenue,
        |    CAST(row_number() OVER (ORDER BY revenue DESC, item)
        |      AS INTEGER) AS rank,
        |    sum(revenue) OVER (ORDER BY revenue DESC, item
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(revenue) OVER (ORDER BY revenue DESC, item
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS tot
        |  FROM per)
        |SELECT item, rank, revenue, round(cum / tot, 6) AS cum_share,
        |  CASE WHEN cum / tot <= 0.8 THEN 'A'
        |       WHEN cum / tot <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
        |FROM w ORDER BY rank""".stripMargin),
  )
}
