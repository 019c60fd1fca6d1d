package graft
package gates

import graft.ops.Features

/** The gates whose plans call [[graft.ops.Features]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object FeaturesGates {
  val all: Seq[Gate] = Seq(
    Gate("q_date_features", (s, d) => Features.dateFeatures(Tables.orders(s, d)))(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mon,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(isodow(o_orderdate) - 1 AS INTEGER) AS dow_norm,
        |  CAST(CASE WHEN isodow(o_orderdate) - 1 >= 5 THEN 1 ELSE 0 END
        |       AS INTEGER) AS is_weekend,
        |  strftime(o_orderdate, '%b') AS mon_name,
        |  CASE WHEN month(o_orderdate) IN (12, 1, 2) THEN 'winter'
        |       WHEN month(o_orderdate) IN (3, 4, 5) THEN 'spring'
        |       WHEN month(o_orderdate) IN (6, 7, 8) THEN 'summer'
        |       ELSE 'autumn' END AS season,
        |  round(sin(2 * pi() * month(o_orderdate) / 12), 6) + 0.0 AS sin_mon,
        |  round(cos(2 * pi() * month(o_orderdate) / 12), 6) + 0.0 AS cos_mon
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Gate("q_scalar_funcs", (s, d) =>
      Features.scalarFunctions(Tables.events(s, d)))(
      """SELECT event_id,
        |  concat_ws('_', user_id, event_type, strftime(ts, '%Y-%m-%d'))
        |    AS file_key,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec,
        |  round(value, 1) AS value_r1,
        |  upper(event_type) AS etype_upper,
        |  regexp_replace('raw/' || event_type, '^raw/', 'processed/')
        |    AS zone_rewrite,
        |  CAST(CASE WHEN value > 10 THEN 1 ELSE 0 END AS INTEGER) AS is_high,
        |  coalesce(value, 0.0) AS value_filled
        |FROM events ORDER BY event_id""".stripMargin),
    Gate("q_json_extract", (s, d) => Features.jsonExtract(Tables.events(s, d)))(
      """SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  count(*) AS n,
        |  round(avg(value), 6) AS avg_value
        |FROM events GROUP BY event_type, k
        |ORDER BY event_type, k""".stripMargin),
    Gate("q_standardize", (s, d) => Features.standardize(Tables.orders(s, d)))(
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  round((o_totalprice - avg(o_totalprice) OVER g)
        |        / stddev_samp(o_totalprice) OVER g, 6) AS z_price
        |FROM orders
        |WINDOW g AS (PARTITION BY o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q_label_encode", (s, d) => Features.labelEncode(Tables.events(s, d)))(
      """SELECT event_type,
        |  CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS INTEGER)
        |    AS label
        |FROM (SELECT DISTINCT event_type FROM events)
        |ORDER BY event_type""".stripMargin),
    Gate("q_calendar_gapfill", (s, d) =>
      Features.calendarGapFill(Tables.orders(s, d)))(
      """WITH b AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |         CAST(max(o_orderdate) AS DATE) AS d1
        |  FROM orders),
        |days AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM b),
        |perday AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT day, coalesce(n, 0) AS n_orders
        |FROM days LEFT JOIN perday USING (day)
        |ORDER BY day""".stripMargin),
    Gate("q_union_branches", (s, d) =>
      Features.unionBranches(Tables.events(s, d)))(
      """SELECT event_id, user_id, 'CLICK' AS branch, value
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id, 'VIEW' AS branch, value
        |FROM events WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin),
    // deterministic stratified split: identical md5 rank key both engines;
    // test = percent_rank STRICTLY above 1 - testFrac (1.0 - 0.3 rounds to
    // the same IEEE double as the literal 0.7 in both engines)
    Gate("q_stratified_split", (s, d) => Features.stratifiedSplitSummary(
      Tables.orders(s, d), "o_orderkey", "o_orderstatus", 0.3, 42L))(
      """WITH r AS (
        |  SELECT o_orderstatus,
        |    percent_rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY md5('42_' || CAST(o_orderkey AS VARCHAR)),
        |        o_orderkey) AS pr
        |  FROM orders)
        |SELECT o_orderstatus,
        |  CASE WHEN pr > 0.7 THEN 'test' ELSE 'train' END AS split,
        |  count(*) AS n_rows
        |FROM r GROUP BY 1, 2
        |ORDER BY o_orderstatus, split""".stripMargin),
    // quantile normalization of n_chars across sources (rank within
    // source -> cross-source rank-mean)
    Gate("q_quantile_norm", (s, d) => graft.ops.Features.quantileNormalize(
      Tables.documents(s, d), "source", "doc_id", "n_chars"))(
      """WITH r AS (SELECT source, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars, doc_id) AS rank
        |           FROM documents),
        |m AS (SELECT rank, round(avg(CAST(n_chars AS DOUBLE)), 6) AS qnorm
        |      FROM r GROUP BY 1)
        |SELECT source, doc_id, n_chars, CAST(rank AS INTEGER) AS rank,
        |  qnorm
        |FROM r JOIN m USING (rank) ORDER BY source, rank""".stripMargin),
    // leave-one-out target encoding of order priority on total price
    Gate("q_target_encode", (s, d) => graft.ops.Features.targetEncodeLoo(
      Tables.orders(s, d), "o_orderpriority", "o_totalprice",
      "o_orderkey"))(
      """WITH s AS (SELECT o_orderpriority AS cat,
        |             sum(CAST(o_totalprice AS DOUBLE)) AS sy,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM orders GROUP BY 1),
        |g AS (SELECT avg(CAST(o_totalprice AS DOUBLE)) AS gm FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  round(CASE WHEN n > 1
        |        THEN (sy - CAST(o_totalprice AS DOUBLE))
        |             / CAST(n - 1 AS DOUBLE)
        |        ELSE gm END, 6) AS encoded
        |FROM orders JOIN s ON s.cat = o_orderpriority CROSS JOIN g
        |ORDER BY o_orderkey""".stripMargin),
    // equal-frequency quartile bins of the integral quantity measure
    // (exact interpolated edges, engine-identical on integers)
    // quartile bins: exact interpolated edges (quantile_cont ==
    // Spark percentile on integral inputs), bin = 1 + sum(v >= edge)
    Gate("q_quantile_bins", (s, d) => graft.ops.Features.quantileBins(
      Tables.lineitem(s, d).select(
        org.apache.spark.sql.functions.col("l_quantity")),
      "l_quantity", bins = 4))(
      """WITH e AS (SELECT quantile_cont(CAST(l_quantity AS DOUBLE),
        |             [0.25, 0.5, 0.75]) AS q FROM lineitem
        |           WHERE l_quantity IS NOT NULL),
        |b AS (SELECT CAST(1 + CASE WHEN CAST(l_quantity AS DOUBLE)
        |            >= q[1] THEN 1 ELSE 0 END
        |          + CASE WHEN CAST(l_quantity AS DOUBLE) >= q[2]
        |            THEN 1 ELSE 0 END
        |          + CASE WHEN CAST(l_quantity AS DOUBLE) >= q[3]
        |            THEN 1 ELSE 0 END AS INTEGER) AS bin,
        |        CAST(l_quantity AS DOUBLE) AS v
        |      FROM lineitem CROSS JOIN e
        |      WHERE l_quantity IS NOT NULL)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(min(v), 6) AS lo, round(max(v), 6) AS hi
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
  )
}
