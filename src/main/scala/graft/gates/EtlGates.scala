package graft
package gates

import graft.ops.Etl

/** The gates whose plans call [[graft.ops.Etl]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object EtlGates {
  val all: Seq[Gate] = Seq(
    Gate("q_get_or_create", (s, d) => {
      import org.apache.spark.sql.functions.col
      val existing = Tables.nation(s, d)
        .select(col("n_nationkey").as("id"), col("n_name").as("key"))
      val incoming = Tables.nation(s, d).select(col("n_name").as("key"))
        .unionByName(Tables.region(s, d).select(col("r_name").as("key")))
      Etl.getOrCreateIds(existing, incoming, "id", "key").orderBy("id", "key")
    })(
      """SELECT id, key FROM (
        |  SELECT n_nationkey AS id, n_name AS key FROM nation
        |  UNION ALL
        |  SELECT CAST((SELECT max(n_nationkey) FROM nation)
        |              + dense_rank() OVER (ORDER BY r_name) AS INTEGER)
        |           AS id,
        |    r_name AS key
        |  FROM region
        |  WHERE r_name NOT IN (SELECT n_name FROM nation))
        |ORDER BY id, key""".stripMargin),
    // SCD2 history build: half-open validity intervals per user from the
    // event change log (one keyed lead window)
    Gate("q_scd2", (s, d) => graft.ops.Etl.scd2FromChangeLog(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type"))(
      """SELECT user_id, event_id, event_type,
        |  ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin),
    Gate("q_file_split", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val bad = col("event_id") % 97 === 0
      val (valid, errored) = Etl.fileLevelSplit(ev, "user_id", bad)
      valid.select(lit("valid").as("split"), col("user_id"))
        .unionByName(errored.select(lit("error").as("split"), col("user_id")))
        .groupBy("split")
        .agg(countDistinct(col("user_id")).as("n_files"),
          count(lit(1)).as("n_rows"))
        .orderBy("split")
    })(
      """WITH fs AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS bad,
        |    count(*) AS nr
        |  FROM events GROUP BY user_id)
        |SELECT CASE WHEN bad = 1 THEN 'error' ELSE 'valid' END AS split,
        |  count(*) AS n_files,
        |  CAST(sum(nr) AS BIGINT) AS n_rows
        |FROM fs GROUP BY 1 ORDER BY split""".stripMargin),
    Gate("q_error_rate", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      Etl.errorRate(Etl.transformLogs(ev, "user_id", col("event_id") % 97 === 0))
    })(
      """WITH logs AS (
        |  SELECT user_id,
        |    CASE WHEN max(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) = 1
        |         THEN 'Error' ELSE 'Processed' END AS status
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_files,
        |  CAST(sum(CASE WHEN status = 'Error' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_errors,
        |  round(sum(CASE WHEN status = 'Error' THEN 1 ELSE 0 END) * 100.0
        |        / count(*), 2) AS error_pct,
        |  round(sum(CASE WHEN status = 'Error' THEN 1 ELSE 0 END) * 100.0
        |        / count(*), 2) >= 50.0 AS critical
        |FROM logs""".stripMargin),
    Gate("q_upsert", (s, d) => {
      import org.apache.spark.sql.functions._
      val orders = Tables.orders(s, d)
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("X"))
      Etl.upsert(orders, updates, Seq("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    })(
      """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'X'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),
    // CDC snapshot diff: the "new" snapshot is derived deterministically
    // from orders (drop %97 keys, reprice %13 keys, add shifted keys)
    // CDC diff oracle: replay the snapshot derivation + full outer join
    Gate("q_snapshot_diff", (s, d) => {
      import org.apache.spark.sql.functions._
      val orders = Tables.orders(s, d)
      val newSnap = orders
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 1000 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      Etl.snapshotDiff(orders, newSnap, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
        .groupBy("diff_status").agg(count(lit(1)).as("n"))
        .orderBy("diff_status")
    })(
      """WITH n AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderstatus
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 1000 = 7),
        |j AS (
        |  SELECT CASE
        |      WHEN o.o_orderkey IS NULL THEN 'added'
        |      WHEN n.o_orderkey IS NULL THEN 'removed'
        |      WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |        OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |        THEN 'changed'
        |      ELSE 'unchanged' END AS diff_status
        |  FROM orders o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT diff_status, count(*) AS n FROM j
        |GROUP BY diff_status ORDER BY diff_status""".stripMargin),
    // data-quality expectation report: one conditional-sum pass, k rules
    Gate("q_dq_report", (s, d) => {
      import org.apache.spark.sql.functions._
      Etl.dqReport(Tables.events(s, d), Seq(
        "r1_value_nonnull" -> col("value").isNull,
        "r2_value_range" -> (col("value") < 0.0 || col("value") > 450.0),
        "r3_type_domain" -> !col("event_type").isin(
          "view", "click", "purchase", "signup", "error"),
        "r4_user_nonneg" -> (col("user_id") < 0L)))
    })(
      """WITH t AS (SELECT
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r1,
        |    CAST(sum(CASE WHEN value < 0.0 OR value > 450.0
        |                  OR value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r2,
        |    CAST(sum(CASE WHEN event_type NOT IN
        |        ('view','click','purchase','signup','error')
        |        OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |    CAST(sum(CASE WHEN user_id < 0 OR user_id IS NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |    count(*) AS n FROM events)
        |SELECT 'r1_value_nonnull' AS rule, r1 AS n_violations, n AS n_rows,
        |       round(CAST(r1 AS DOUBLE) / n, 6) AS violation_rate FROM t
        |UNION ALL SELECT 'r2_value_range', r2, n,
        |       round(CAST(r2 AS DOUBLE) / n, 6) FROM t
        |UNION ALL SELECT 'r3_type_domain', r3, n,
        |       round(CAST(r3 AS DOUBLE) / n, 6) FROM t
        |UNION ALL SELECT 'r4_user_nonneg', r4, n,
        |       round(CAST(r4 AS DOUBLE) / n, 6) FROM t
        |ORDER BY rule""".stripMargin),
    // incremental materialized-view maintenance: history state + new-batch
    // state merged must equal the full recompute (the oracle computes the
    // full-table aggregate directly — merge algebra is what's under test)
    // incremental merge must equal the oracle's direct full recompute
    Gate("q_incr_agg", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-20").cast("timestamp")
      val keys = Seq("user_id", "event_type")
      val merged = Etl.mergeAggStates(
        Etl.aggState(ev.filter(col("ts") < cut), keys, "value"),
        Etl.aggState(ev.filter(col("ts") >= cut), keys, "value"), keys)
      merged.select(col("user_id"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sum_value"),
        col("min_value"), col("max_value"),
        round(col("sum_value") / col("n"), 6).as("avg_value"))
        .orderBy("user_id", "event_type")
    })(
      """SELECT user_id, event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  round(sum(value) / count(*), 6) AS avg_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),
    // S3: plan-time rate-limit schedule over the fetch manifest
    // S3: the manifest grid × per-api row_number admission slots
    Gate("q_rate_limit", (s, d) => {
      import org.apache.spark.sql.functions._
      val manifest = Etl.extractionManifest(Tables.nation(s, d), "n_name",
        Seq("covid", "weather"), "2021-01-01", "2021-01-05", 1700000000L)
      Etl.rateLimitSchedule(manifest, "2021-01-01 00:00:00", perSecond = 3)
        .select(col("api"), col("path"), col("slot"),
          date_format(col("scheduled_at"), "yyyy-MM-dd HH:mm:ss")
            .as("scheduled_at"))
        .orderBy("api", "path")
    })(
      """WITH apis(api) AS (VALUES ('covid'), ('weather')),
        |days AS (
        |  SELECT unnest(generate_series(DATE '2021-01-01',
        |                                DATE '2021-01-05',
        |                                INTERVAL 1 DAY)) AS day),
        |m AS (
        |  SELECT api,
        |    concat_ws('/', 'S3', 'raw', 'batch_1700000000',
        |      concat_ws('_', n_name, upper(api),
        |                strftime(CAST(day AS DATE), '%Y-%m-%d'))) AS path
        |  FROM nation, apis, days),
        |r AS (
        |  SELECT api, path,
        |    (row_number() OVER (PARTITION BY api ORDER BY path) - 1) // 3
        |      AS slot
        |  FROM m)
        |SELECT api, path, CAST(slot AS BIGINT) AS slot,
        |  strftime(TIMESTAMP '2021-01-01 00:00:00'
        |           + slot * INTERVAL 1 SECOND,
        |           '%Y-%m-%d %H:%M:%S') AS scheduled_at
        |FROM r ORDER BY api, path""".stripMargin),
    // batch-cursor progression (etl_dag Variable cursor) unrolled: three
    // consecutive 30-day windows sharing boundary days, full manifests
    // batch-cursor windows: run i starts where run i-1 ended (the
    // reference's set_start_date(end) boundary-day overlap)
    Gate("q_cursor_manifest", (s, d) =>
      Etl.cursorManifests(Tables.nation(s, d), "n_name",
        Seq("covid", "weather"), "2021-04-01", runs = 3, days = 30)
        .orderBy("run", "iso", "api", "day"))(
      """WITH apis(api) AS (VALUES ('covid'), ('weather')),
        |s AS (SELECT unnest(range(0, 3)) AS run),
        |w AS (SELECT CAST(run AS INTEGER) AS run,
        |    CAST(DATE '2021-04-01' + (run*29) * INTERVAL 1 DAY
        |         AS DATE) AS window_start,
        |    CAST(DATE '2021-04-01' + (run*29 + 29) * INTERVAL 1 DAY
        |         AS DATE) AS window_end
        |  FROM s),
        |d AS (SELECT run, window_start, window_end,
        |    CAST(unnest(generate_series(window_start, window_end,
        |                                INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM w),
        |m AS (SELECT d.run, d.window_start, d.window_end, n_name AS iso,
        |    api, day,
        |    concat_ws('/', 'S3', 'raw',
        |      concat('batch_', CAST(d.run AS VARCHAR)),
        |      concat_ws('_', n_name, upper(api),
        |                strftime(day, '%Y-%m-%d'))) AS path
        |  FROM d, nation, apis)
        |SELECT * FROM m ORDER BY run, iso, api, day""".stripMargin),
    // referential integrity across the star's FK edges
    Gate("q_ref_integrity", (s, d) => graft.ops.Etl.refIntegrityReport(Seq(
      ("orders", Tables.orders(s, d), "o_custkey",
        "customer", Tables.customer(s, d), "c_custkey"),
      ("lineitem", Tables.lineitem(s, d), "l_orderkey",
        "orders", Tables.orders(s, d), "o_orderkey"),
      ("lineitem", Tables.lineitem(s, d), "l_partkey",
        "part", Tables.part(s, d), "p_partkey"),
      ("customer", Tables.customer(s, d), "c_nationkey",
        "nation", Tables.nation(s, d), "n_nationkey"))))(
      """WITH e1 AS (SELECT 'orders.o_custkey -> customer.c_custkey'
        |    AS fk_edge,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |      AS n_orphan_rows,
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |       (SELECT DISTINCT c_custkey FROM customer)
        |     WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |      AS n_childless_keys),
        |e2 AS (SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |       (SELECT DISTINCT o_orderkey FROM orders)
        |     WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))),
        |e3 AS (SELECT 'lineitem.l_partkey -> part.p_partkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |       (SELECT DISTINCT p_partkey FROM part)
        |     WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem))),
        |e4 AS (SELECT 'customer.c_nationkey -> nation.n_nationkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer
        |     WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)),
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |       (SELECT DISTINCT n_nationkey FROM nation)
        |     WHERE n_nationkey NOT IN
        |       (SELECT c_nationkey FROM customer)))
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |ORDER BY fk_edge""".stripMargin),
  )
}
