package graft
package gates

import graft.ops.Temporal

/** The gates whose plans call [[graft.ops.Temporal]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object TemporalGates {
  val all: Seq[Gate] = Seq(
    // Temporal join oracles (independent inequality-join spellings:
    // the engine uses union-window / bucketed equi-join plans)
    Gate("q_asof_join", (s, d) =>
      Temporal.asofJoin(
        Tables.events(s, d)
          .select("event_id", "user_id", "ts"),
        Tables.orders(s, d),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"),
        tiebreak = "o_orderkey")
        .withColumnRenamed("asof_o_orderkey", "asof_orderkey")
        .withColumn("asof_total",
          org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.col("asof_o_totalprice"), 6))
        .drop("asof_o_totalprice")
        .orderBy("event_id"))(
      """WITH m AS (
        |  SELECT e.event_id, e.user_id, e.ts,
        |         o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts, o_orderkey AS asof_orderkey,
        |       round(o_totalprice, 6) AS asof_total
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin),
    Gate("q_band_join", (s, d) =>
      Temporal.bandFollowers(Tables.events(s, d),
        key = "user_id", time = "ts", id = "event_id",
        valueCol = "value", widthSec = 86400L))(
      """SELECT a.event_id,
        |  count(b.event_id) AS n_next,
        |  round(sum(b.value), 6) AS sum_next
        |FROM events a LEFT JOIN events b
        |  ON b.user_id = a.user_id AND b.ts > a.ts
        | AND b.ts <= a.ts + INTERVAL 1 DAY
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin),
    Gate("q_ohlc_resample", (s, d) =>
      Temporal.ohlcResample(Tables.events(s, d),
        key = "user_id", time = "ts", id = "event_id",
        valueCol = "value"))(
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rna,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM events)
        |SELECT user_id, day,
        |  max(CASE WHEN rna = 1 THEN value END) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  max(CASE WHEN rnd = 1 THEN value END) AS close,
        |  count(*) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM r GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin),
    // per-day peak concurrent sessions: gap-based session spans swept as
    // +1/-1 boundary deltas — day-partitioned prefix max plus a
    // calendar-bounded midnight-carry prefix sum (never a global sort
    // of the interval table)
    // sweep-line replay: identical sessionization, then the same
    // two-level sweep (day-partitioned run + midnight carry); the
    // ORDER BY t, d DESC tie order mirrors the Spark closed-interval
    // convention (starts before ends at equal instants)
    Gate("q_concurrency", (s, d) => graft.ops.Temporal.maxConcurrency(
      graft.ops.Temporal.sessionSpans(Tables.events(s, d), "user_id",
        "ts", gapSec = 1800L), "session_start", "session_end"))(
      """WITH lg AS (SELECT user_id AS u, ts,
        |       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pv
        |     FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |fl AS (SELECT u, ts, CASE WHEN pv IS NULL
        |         OR epoch_us(ts) - epoch_us(pv) > 1800000000
        |         THEN 1 ELSE 0 END AS nw FROM lg),
        |si AS (SELECT u, ts, sum(nw) OVER (PARTITION BY u ORDER BY ts
        |         ROWS UNBOUNDED PRECEDING) AS sid FROM fl),
        |sp AS (SELECT u, sid, min(ts) AS st, max(ts) AS en
        |       FROM si GROUP BY 1, 2),
        |dl AS (SELECT st AS t, 1 AS d FROM sp
        |       UNION ALL SELECT en AS t, -1 AS d FROM sp),
        |dd AS (SELECT CAST(t AS DATE) AS day, t, d FROM dl),
        |net AS (SELECT day, sum(d) AS net FROM dd GROUP BY 1),
        |cr AS (SELECT day, coalesce(sum(net) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS carry FROM net),
        |rn AS (SELECT day, sum(d) OVER (PARTITION BY day
        |         ORDER BY t, d DESC ROWS UNBOUNDED PRECEDING) AS run
        |       FROM dd),
        |pk AS (SELECT day, max(run) AS peak FROM rn GROUP BY 1)
        |SELECT pk.day,
        |  CAST(cr.carry + greatest(pk.peak, 0) AS BIGINT)
        |    AS peak_concurrency
        |FROM pk JOIN cr ON cr.day = pk.day ORDER BY pk.day""".stripMargin),
  )
}
