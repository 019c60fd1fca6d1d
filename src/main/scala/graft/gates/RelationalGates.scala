package graft
package gates

import graft.ops.Relational

/** The gates whose plans call [[graft.ops.Relational]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object RelationalGates {
  val all: Seq[Gate] = Seq(
    Gate("q_funnel", (s, d) => Relational.funnel(
      Tables.customer(s, d), Tables.orders(s, d),
      Tables.lineitem(s, d), Tables.nation(s, d)))(
      """SELECT n_name AS nation,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(l_orderkey) AS n_lineitems,
        |  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN orders ON c_custkey = o_custkey
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY n_name ORDER BY nation""".stripMargin),
    Gate("q_funnel_filtered", (s, d) => Relational.funnelFiltered(
      Tables.customer(s, d), Tables.orders(s, d),
      Tables.lineitem(s, d), Tables.nation(s, d),
      dateFrom = Some("1996-01-01"), dateTo = Some("1996-12-31"),
      nations = Seq("NATION_1", "NATION_2", "NATION_3")))(
      """SELECT n_name AS nation,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(l_orderkey) AS n_lineitems,
        |  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fulfilled
        |FROM customer
        |JOIN (SELECT * FROM nation
        |      WHERE n_name IN ('NATION_1','NATION_2','NATION_3')) n
        |  ON c_nationkey = n_nationkey
        |LEFT JOIN (SELECT * FROM orders
        |           WHERE o_orderdate >= '1996-01-01'
        |             AND o_orderdate <= '1996-12-31') o
        |  ON c_custkey = o_custkey
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY n_name ORDER BY nation""".stripMargin),
    Gate("q_proj_filter", (s, d) =>
      Relational.projectFilter(Tables.orders(s, d)))(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q_inlist_threshold", (s, d) =>
      Relational.inListThreshold(Tables.lineitem(s, d)))(
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE l_returnflag IN ('A','R') AND l_quantity >= 30
        |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin),
    Gate("q_multi_join_agg", (s, d) => Relational.multiJoinAgg(
      Tables.region(s, d), Tables.nation(s, d),
      Tables.customer(s, d), Tables.orders(s, d)))(
      """SELECT r_name AS region, n_name AS nation,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY region, nation""".stripMargin),
    Gate("q_left_join_filter", (s, d) => Relational.leftJoinStatusFilter(
      Tables.orders(s, d), Tables.lineitem(s, d)))(
      """SELECT o_orderpriority AS priority, count(*) AS n_returned
        |FROM orders
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY o_orderpriority ORDER BY priority""".stripMargin),
    Gate("q_left_funnel_status", (s, d) => Relational.leftFunnelStatus(
      Tables.orders(s, d), Tables.lineitem(s, d)))(
      """SELECT CASE WHEN l_orderkey IS NOT NULL THEN 'Shipped'
        |            ELSE 'Order Only' END AS stage,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM orders
        |LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) li
        |  ON o_orderkey = l_orderkey
        |GROUP BY stage ORDER BY stage""".stripMargin),
    Gate("q_anti_join_new", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      Relational.antiJoinNewRows(
          ev, ev.filter(col("event_id") % 2 === 0),
          Seq("user_id", "event_type", "value"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    })(
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events g
        |  WHERE g.event_id % 2 = 0 AND g.user_id = e.user_id
        |    AND g.event_type = e.event_type AND g.value = e.value)
        |ORDER BY event_id""".stripMargin),
    Gate("q_cond_rates", (s, d) =>
      Relational.conditionalRates(Tables.events(s, d)))(
      """SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN value >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  round(sum(CASE WHEN value >= 10 THEN 1 ELSE 0 END) * 100.0
        |        / count(*), 2) AS high_rate_pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("q_distinct_durations", (s, d) => Relational.distinctAndDurations(
      Tables.orders(s, d), Tables.lineitem(s, d)))(
      """SELECT o_orderstatus AS status,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  round(avg(epoch(l_shipdate) - epoch(o_orderdate)), 2) AS avg_ship_delay_sec
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY status""".stripMargin),
    Gate("q_describe", (s, d) =>
      Relational.describeColumn(Tables.lineitem(s, d), "l_extendedprice"))(
      """SELECT count(l_extendedprice) AS n,
        |  round(avg(l_extendedprice), 6) AS mean,
        |  round(stddev_samp(l_extendedprice), 6) AS std,
        |  round(min(l_extendedprice), 6) AS min,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS q3,
        |  round(max(l_extendedprice), 6) AS max
        |FROM lineitem""".stripMargin),
    Gate("q_corr_matrix", (s, d) =>
      Relational.corrMatrix(Tables.lineitem(s, d), lineitemNumCols))(
      """SELECT
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_l_quantity_l_extendedprice,
        |  round(corr(l_quantity, l_discount), 6) AS corr_l_quantity_l_discount,
        |  round(corr(l_quantity, l_tax), 6) AS corr_l_quantity_l_tax,
        |  round(corr(l_extendedprice, l_discount), 6) AS corr_l_extendedprice_l_discount,
        |  round(corr(l_extendedprice, l_tax), 6) AS corr_l_extendedprice_l_tax,
        |  round(corr(l_discount, l_tax), 6) AS corr_l_discount_l_tax
        |FROM lineitem""".stripMargin),
    Gate("q_null_counts", (s, d) =>
      Relational.nullCounts(Tables.lineitem(s, d), lineitemNumCols))(
      """SELECT
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_quantity,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_extendedprice,
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_discount,
        |  CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_tax
        |FROM lineitem""".stripMargin),
    Gate("q_percentile_extremes", (s, d) =>
      Relational.percentileExtremes(Tables.orders(s, d)))(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= (SELECT quantile_cont(o_totalprice, 0.95) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q_group_derived_date", (s, d) =>
      Relational.groupByDerivedDate(Tables.orders(s, d)))(
      """SELECT o_orderpriority AS priority,
        |  CAST(o_orderdate AS DATE) AS order_day,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY priority, order_day""".stripMargin),
    Gate("q_domain_summary", (s, d) =>
      Relational.domainSummary(Tables.orders(s, d)))(
      """SELECT o_orderstatus AS status,
        |  min(o_orderdate) AS first_order,
        |  max(o_orderdate) AS last_order,
        |  count(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin),
    Gate("q_topk", (s, d) => Relational.topK(Tables.orders(s, d), 100))(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),
    Gate("q_log_tail", (s, d) => Relational.logTail(Tables.events(s, d), 1000))(
      """SELECT event_id, ts, user_id, value FROM events
        |WHERE event_type = 'error'
        |ORDER BY ts DESC, event_id ASC LIMIT 1000""".stripMargin),
    Gate("q_dedup_first", (s, d) =>
      Relational.dedupFirstPerKey(Tables.events(s, d)))(
      """SELECT e.event_id, e.user_id, e.event_type, e.value
        |FROM events e
        |JOIN (SELECT user_id, event_type, min(event_id) AS event_id
        |      FROM events GROUP BY user_id, event_type) f
        |  ON e.user_id = f.user_id AND e.event_type = f.event_type
        |     AND e.event_id = f.event_id
        |ORDER BY e.event_id""".stripMargin),
    Gate("q_window_ranks", (s, d) =>
      Relational.windowRanks(Tables.orders(s, d)))(
      """SELECT o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY date_trunc('month', o_orderdate)
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q_group_topk", (s, d) =>
      Relational.groupTopK(Tables.orders(s, d), 3))(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |FROM orders QUALIFY rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin),
    Gate("q_histogram", (s, d) =>
      Relational.valueHistogram(Tables.events(s, d), 0.0, 25.0, 20))(
      """SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT)
        |         AS bin,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE value IS NOT NULL
        |GROUP BY bin ORDER BY bin""".stripMargin),
    // purchase-cycle histogram: consecutive-order day gaps per customer
    // binned at 30-day width (valueHistogram composition)
    // purchase-gap histogram replay: same lag discipline (date, id), day
    // gaps binned at 30-day width with the valueHistogram clamp
    Gate("q_order_gaps", (s, d) => {
      import org.apache.spark.sql.functions.col
      Relational.valueHistogram(
        graft.ops.Commerce.interOrderGaps(Tables.orders(s, d),
          "o_custkey", "o_orderdate", "o_orderkey")
          .select(col("gap_days").cast("double").as("value")),
        0.0, 30.0, 12)
    })(
      """WITH g AS (SELECT o_custkey AS cust, o_orderdate AS d,
        |        lag(o_orderdate) OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey) AS pv
        |      FROM orders),
        |v AS (SELECT CAST(date_diff('day', CAST(pv AS DATE),
        |        CAST(d AS DATE)) AS DOUBLE) AS value
        |      FROM g WHERE pv IS NOT NULL)
        |SELECT CAST(least(greatest(floor(value / 30.0), 0), 11)
        |    AS BIGINT) AS bin,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM v GROUP BY bin ORDER BY bin""".stripMargin),
    Gate("q_mode", (s, d) =>
      Relational.modePerKey(Tables.events(s, d), "user_id", "event_type"))(
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL
        |           GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n, row_number() OVER (
        |        PARTITION BY user_id ORDER BY n DESC, event_type ASC)
        |        AS rk
        |      FROM c)
        |SELECT user_id, event_type AS mode_label, n AS mode_n
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin),
    Gate("q_unpivot", (s, d) =>
      Relational.meltMetrics(Tables.lineitem(s, d)))(
      """WITH a AS (SELECT l_returnflag,
        |    round(avg(l_discount), 6) AS avg_disc,
        |    round(sum(l_extendedprice), 6) AS sum_price,
        |    round(sum(l_quantity), 6) AS sum_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'avg_disc' AS metric, avg_disc AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_qty', sum_qty FROM a
        |ORDER BY l_returnflag, metric""".stripMargin),
    Gate("q_describe_multi", (s, d) => Relational.describeColumns(
      Tables.lineitem(s, d), lineitemNumCols))(
      """SELECT col_name, n, mean, std, min, median, max FROM (
        |  SELECT 'l_quantity' AS col_name, count(l_quantity) AS n,
        |    round(avg(l_quantity), 6) AS mean,
        |    round(stddev_samp(l_quantity), 6) AS std,
        |    round(min(l_quantity), 6) AS min,
        |    round(quantile_cont(l_quantity, 0.5), 6) AS median,
        |    round(max(l_quantity), 6) AS max FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(l_extendedprice),
        |    round(avg(l_extendedprice), 6),
        |    round(stddev_samp(l_extendedprice), 6),
        |    round(min(l_extendedprice), 6),
        |    round(quantile_cont(l_extendedprice, 0.5), 6),
        |    round(max(l_extendedprice), 6) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount),
        |    round(avg(l_discount), 6),
        |    round(stddev_samp(l_discount), 6),
        |    round(min(l_discount), 6),
        |    round(quantile_cont(l_discount, 0.5), 6),
        |    round(max(l_discount), 6) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', count(l_tax),
        |    round(avg(l_tax), 6),
        |    round(stddev_samp(l_tax), 6),
        |    round(min(l_tax), 6),
        |    round(quantile_cont(l_tax, 0.5), 6),
        |    round(max(l_tax), 6) FROM lineitem)
        |ORDER BY col_name""".stripMargin),
    // Pareto frontier of customers on (total spend, order count) — the
    // sort-scan skyline, not the all-pairs anti-join
    // skyline oracle: the quadratic NOT EXISTS spelling — a genuinely
    // independent formulation of weak dominance
    Gate("q_skyline", (s, d) => {
      import org.apache.spark.sql.functions._
      val agg = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("spend"),
          count(lit(1)).as("n_orders"))
      Relational.skyline(agg, "spend", "n_orders")
        .orderBy(col("spend").desc, col("o_custkey"))
    })(
      """WITH a AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
        |             count(*) AS n_orders
        |           FROM orders GROUP BY 1)
        |SELECT o_custkey, spend, n_orders FROM a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM a b
        |  WHERE b.spend >= a.spend AND b.n_orders >= a.n_orders
        |    AND (b.spend > a.spend OR b.n_orders > a.n_orders))
        |ORDER BY spend DESC, o_custkey""".stripMargin),
    // price-volume bridge per nation, 1996 vs 1997: Laspeyres volume +
    // Paasche price effects (identity: volume + price = delta revenue)
    // bridge replay: same rounded (group, year) sums, same Laspeyres/
    // Paasche effect arithmetic, both-periods-present filter
    Gate("q_price_volume", (s, d) => {
      import org.apache.spark.sql.functions._
      val base = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.nation(s, d),
          col("n_nationkey") === col("c_nationkey"))
        .withColumn("yr", year(col("o_orderdate")).cast("string"))
      Relational.priceVolumeMix(base, "n_name", "yr", "l_quantity",
        "l_extendedprice", "1996", "1997")
    })(
      """WITH b AS (SELECT n_name AS grp,
        |        CAST(year(o_orderdate) AS VARCHAR) AS p,
        |        l_quantity AS q, l_extendedprice AS r
        |      FROM lineitem
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation ON n_nationkey = c_nationkey
        |      WHERE year(o_orderdate) IN (1996, 1997)),
        |per AS (SELECT grp, p, round(sum(q), 2) AS q,
        |          round(sum(r), 2) AS r
        |        FROM b GROUP BY 1, 2),
        |piv AS (SELECT grp,
        |    max(CASE WHEN p = '1996' THEN q END) AS q0,
        |    max(CASE WHEN p = '1996' THEN r END) AS r0,
        |    max(CASE WHEN p = '1997' THEN q END) AS q1,
        |    max(CASE WHEN p = '1997' THEN r END) AS r1
        |  FROM per GROUP BY 1)
        |SELECT grp, q0, q1, r0, r1,
        |  round(r1 - r0, 2) AS delta_rev,
        |  round((q1 - q0) * (r0 / q0), 6) AS volume_effect,
        |  round(round(r1 - r0, 2)
        |    - round((q1 - q0) * (r0 / q0), 6), 6) AS price_effect
        |FROM piv
        |WHERE q0 IS NOT NULL AND q1 IS NOT NULL
        |  AND q0 <> 0 AND q1 <> 0
        |ORDER BY grp""".stripMargin),
    // the bloom screen is invisible in the result — the oracle is the
    // PLAIN semi-join; the op drops definite non-members pre-shuffle and
    // the exact semi-join removes the bloom's false positives
    // the bloom screen's oracle is the plain semi-join — same rows by
    // design (the exact semi-join removes bloom false positives)
    Gate("q_bloom_semi", (s, d) => {
      import org.apache.spark.sql.functions._
      val probe = Tables.lineitem(s, d)
      val expensive = Tables.orders(s, d)
        .filter(col("o_totalprice") > 450000.0)
      Relational.bloomSemiJoin(probe, expensive,
        "l_orderkey", "o_orderkey", estimatedItems = 10000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("total_qty"))
        .orderBy("l_returnflag")
    })(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_totalprice > 450000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // salting is invisible in the result — the oracle is the PLAIN join;
    // the op redistributes a pathological key across `salt` reducers
    // the salted join's oracle is the plain join — same rows by design
    Gate("q_salted_join", (s, d) => {
      import org.apache.spark.sql.functions._
      val probe = Tables.lineitem(s, d)
      val build = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      Relational.saltedJoin(probe, col("l_partkey"), build,
        "l_orderkey", salt = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("total_qty"))
        .orderBy("o_orderstatus")
    })(
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_share_of_total", (s, d) =>
      Relational.shareOfTotal(Tables.orders(s, d)))(
      """WITH g AS (SELECT o_orderpriority, sum(o_totalprice) AS s
        |           FROM orders GROUP BY 1),
        |t AS (SELECT sum(s) AS t FROM g)
        |SELECT o_orderpriority, round(s, 2) AS revenue,
        |       round(s / t, 6) AS share
        |FROM g CROSS JOIN t
        |ORDER BY o_orderpriority""".stripMargin),
    Gate.rowsOnly("q_approx_stats", "HLL/t-digest sketch internals are " +
      "engine-specific; their error bounds are property-gated in " +
      "RelationalSpec")((s, d) =>
      Relational.approxStats(Tables.events(s, d))),
    // the same frame's ORACLE-EXPRESSIBLE half: exact distinct + exact
    // median hash-check, so only the sketch internals stay rows-only
    // exact half of the approx-stats frame: countDistinct + interpolated
    // median are engine-portable; the sketch columns stay rows-only
    Gate("q_approx_stats_exact", (s, d) =>
      Relational.approxStats(Tables.events(s, d))
        .select("event_type", "exact_users", "exact_median"))(
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       median(value) AS exact_median
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // key-skew diagnosis over the order join key (salting decision input)
    Gate("q_skew_report", (s, d) => graft.ops.Relational.skewReport(
      Tables.lineitem(s, d), "l_orderkey"))(
      """WITH k AS (SELECT l_orderkey, count(*) AS c FROM lineitem
        |           GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(sum(c) AS BIGINT) AS n_rows,
        |        CAST(max(c) AS BIGINT) AS max_key_rows,
        |        round(avg(c), 6) AS avg_key_rows,
        |        round(quantile_cont(CAST(c AS DOUBLE), 0.5), 6)
        |          AS p50_key_rows,
        |        round(quantile_cont(CAST(c AS DOUBLE), 0.99), 6)
        |          AS p99_key_rows,
        |        round(sum(c * (ln(c) / ln(2.0))), 9) AS sxlx
        |      FROM k)
        |SELECT n_keys, n_rows, max_key_rows, avg_key_rows, p50_key_rows,
        |  p99_key_rows,
        |  round(CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS top_key_share,
        |  round(ln(CAST(n_rows AS DOUBLE)) / ln(2.0)
        |    - sxlx / CAST(n_rows AS DOUBLE), 6) AS key_entropy_bits,
        |  round(ln(CAST(n_keys AS DOUBLE)) / ln(2.0), 6)
        |    AS uniform_entropy_bits
        |FROM a""".stripMargin),
  )

  private val lineitemNumCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
}
