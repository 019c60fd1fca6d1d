package graft
package gates

/** The gates whose plans call [[graft.ops.Events]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object EventsGates {
  val all: Seq[Gate] = Seq(
    Gate("q_retention", (s, d) =>
      graft.ops.Events.retentionCohorts(Tables.events(s, d),
        userCol = "user_id", timeCol = "ts"))(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, min(day) AS cohort FROM ud GROUP BY user_id)
        |SELECT c.cohort,
        |       datediff('day', c.cohort, ud.day) AS offset_days,
        |       count(*) AS n_users
        |FROM ud JOIN c ON ud.user_id = c.user_id
        |GROUP BY c.cohort, offset_days
        |ORDER BY c.cohort, offset_days""".stripMargin),
    Gate("q_seq_funnel", (s, d) =>
      graft.ops.Events.seqFunnel(Tables.events(s, d),
        userCol = "user_id", timeCol = "ts", typeCol = "event_type",
        steps = Seq("view", "click", "purchase"), withinSec = 86400L))(
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |         AND e.ts <= s1.t + INTERVAL 24 HOUR GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |         AND e.ts <= s2.t + INTERVAL 24 HOUR GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |       (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin),
    // conversion-latency SLA: per-user first-view → earliest-purchase
    // gaps, p50/p90/p99 over the dyadic-grid weighted percentile
    // conversion-latency replay: same first-anchor/earliest-after join,
    // same 2^-4 quantization + quantile_cont over the quantized rows
    Gate("q_funnel_time", (s, d) => {
      import org.apache.spark.sql.functions._
      val gaps = graft.ops.Events.timeToConvert(Tables.events(s, d),
        "user_id", "ts", "event_type", "view", "purchase")
      graft.ops.Stats.groupedPercentiles(
        gaps.withColumn("seg", lit("all")), "seg", "gap_minutes",
        probs = Seq(0.5, 0.9, 0.99))
    })(
      """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |        event_type AS ty FROM events),
        |a AS (SELECT u, min(us) AS t0 FROM b WHERE ty = 'view'
        |      GROUP BY 1),
        |g AS (SELECT b.u, min(b.us) AS t1, a.t0
        |      FROM b JOIN a ON a.u = b.u
        |      WHERE b.ty = 'purchase' AND b.us > a.t0
        |      GROUP BY b.u, a.t0),
        |q AS (SELECT floor((CAST(t1 - t0 AS DOUBLE) / 60000000.0) * 16)
        |        / 16 AS vq FROM g)
        |SELECT 'all' AS grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(quantile_cont(vq, 0.5), 6) AS p50,
        |  round(quantile_cont(vq, 0.9), 6) AS p90,
        |  round(quantile_cont(vq, 0.99), 6) AS p99
        |FROM q""".stripMargin),
    // first-order event-type transition matrix (per-user lag window,
    // type-domain-squared output)
    // transition matrix: same (ts, event_id) tie discipline as sessions
    Gate("q_transitions", (s, d) => graft.ops.Events.transitions(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type"))(
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE),
        |    6) AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin),
    // behavioral predictability: entropy rate of the journey chain
    // (per-state fan-out entropy, visit-weighted)
    // entropy-rate replay: exact count quotients, pinned per-state and
    // cross-state folds, ln/exp same-expression (perplexity precedent)
    Gate("q_entropy_rate", (s, d) => graft.ops.Events.transitionEntropy(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type"))(
      """WITH p AS (SELECT event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT)
        |    AS n FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT *, CAST(sum(n) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS nf FROM cnt),
        |b AS (SELECT *, CAST(n AS DOUBLE) / CAST(nf AS DOUBLE) AS pp
        |  FROM a),
        |c AS (SELECT *,
        |    sum(0.0 - pp * ln(pp)) OVER (PARTITION BY from_type
        |      ORDER BY to_type ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      UNBOUNDED FOLLOWING) AS h,
        |    row_number() OVER (PARTITION BY from_type
        |      ORDER BY to_type) AS rn
        |  FROM b),
        |d AS (SELECT * FROM c WHERE rn = 1),
        |e AS (SELECT *, CAST(sum(nf) OVER (ORDER BY from_type ROWS
        |    BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS BIGINT) AS nt FROM d),
        |f AS (SELECT *, CAST(nf AS DOUBLE) / CAST(nt AS DOUBLE) AS pi
        |  FROM e),
        |g AS (SELECT *, sum(pi * h) OVER (ORDER BY from_type ROWS
        |    BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS rate FROM f)
        |SELECT from_type, nf AS n_out, round(h, 6) AS h_row,
        |  round(exp(h), 6) AS effective_branching,
        |  round(pi, 6) AS visit_share, round(pi * h, 6) AS contribution,
        |  round(rate, 6) AS entropy_rate
        |FROM g ORDER BY from_type""".stripMargin),
    // last-touch attribution of purchases within a 2-hour lookback
    // last-touch attribution: RANGE frame [t-L, t-1us] over epoch_us,
    // struct max picks the deterministic latest touch
    Gate("q_attribution", (s, d) => graft.ops.Events.lastTouchAttribution(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      "purchase", lookbackSec = 7200L))(
      """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |             event_id AS id, event_type AS ty FROM events),
        |t AS (SELECT *,
        |    max(CASE WHEN ty <> 'purchase'
        |             THEN struct_pack(us := us, id := id, ty := ty) END)
        |      OVER (PARTITION BY u ORDER BY us
        |            RANGE BETWEEN 7200000000 PRECEDING
        |                      AND 1 PRECEDING) AS touch
        |  FROM b)
        |SELECT coalesce(touch.ty, 'none') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_conversions
        |FROM t WHERE ty = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin),
    // linear multi-touch: every in-window touch splits the conversion
    // credit 1/n (same lookback/boundary as last-touch)
    Gate("q_linear_attribution", (s, d) => graft.ops.Events
      .linearAttribution(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", "purchase", lookbackSec = 7200L))(
      """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |             event_id AS id, event_type AS ty FROM events),
        |c AS (SELECT u, us AS cus, id AS cid FROM b
        |      WHERE ty = 'purchase'),
        |t AS (SELECT u, us AS tus, ty FROM b WHERE ty <> 'purchase'),
        |p AS (SELECT c.u, c.cid, t.ty FROM c JOIN t ON t.u = c.u
        |      WHERE t.tus >= c.cus - 7200000000 AND t.tus < c.cus),
        |n AS (SELECT u, cid, CAST(count(*) AS BIGINT) AS n
        |      FROM p GROUP BY 1, 2),
        |cr AS (SELECT p.ty AS channel,
        |         CAST(1.0 AS DOUBLE) / n.n AS credit
        |       FROM p JOIN n ON n.u = p.u AND n.cid = p.cid
        |       UNION ALL
        |       SELECT 'none' AS channel, CAST(1.0 AS DOUBLE) AS credit
        |       FROM c LEFT JOIN n ON n.u = c.u AND n.cid = c.cid
        |       WHERE n.u IS NULL)
        |SELECT channel, round(sum(credit), 6) AS credit,
        |  CAST(count(*) AS BIGINT) AS n_touchpoints
        |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin),
    // rolling 7-day active users (sliding distinct via bounded fan-out,
    // never a self-join)
    Gate("q_rolling_wau", (s, d) => graft.ops.Events.rollingActiveUsers(
      Tables.events(s, d), "user_id", "ts", windowDays = 7))(
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |            FROM events),
        |days AS (SELECT DISTINCT d AS window_end FROM ud),
        |x AS (SELECT u, d + CAST(o.o AS INTEGER) AS window_end
        |      FROM ud CROSS JOIN UNNEST(range(7)) AS o(o))
        |SELECT x.window_end,
        |  CAST(count(DISTINCT u) AS BIGINT) AS active_users
        |FROM x JOIN days ON days.window_end = x.window_end
        |GROUP BY 1 ORDER BY x.window_end""".stripMargin),
    // longest consecutive-day activity streak per user: gaps-and-islands
    // (day - row_number() constant within an island), all windows
    // user-partitioned, deterministic earliest-start tie-break
    // gaps-and-islands replay: day - row_number() island key, longest
    // island per user with the earliest-start tie-break, total-order cut
    Gate("q_streaks", (s, d) => graft.ops.Events.activityStreaks(
      Tables.events(s, d), "user_id", "ts", topK = 50))(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT user_id, day, row_number() OVER (
        |        PARTITION BY user_id ORDER BY day) AS rn FROM ud),
        |i AS (SELECT user_id, day - CAST(rn AS INTEGER) AS isl, day
        |      FROM r),
        |s AS (SELECT user_id, isl,
        |        CAST(count(*) AS BIGINT) AS streak_days,
        |        min(day) AS streak_start FROM i GROUP BY 1, 2),
        |p AS (SELECT user_id, streak_start, streak_days,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY streak_days DESC, streak_start) AS rk
        |      FROM s)
        |SELECT user_id, streak_start, streak_days FROM p WHERE rk = 1
        |ORDER BY streak_days DESC, user_id LIMIT 50""".stripMargin),
    // weekly growth accounting: new/retained/resurrected/churned user
    // decomposition (per-user lag windows + week-shifted churn join)
    // growth accounting replay: same Monday-anchored weeks, per-user lag
    // classification, and the week+7 shifted churn anti-count
    Gate("q_growth", (s, d) => graft.ops.Events.growthAccounting(
      Tables.events(s, d), "user_id", "ts"))(
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |        CAST(date_trunc('week', ts) AS DATE) AS wk
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cl AS (SELECT u, wk,
        |         lag(wk) OVER (PARTITION BY u ORDER BY wk) AS pv
        |       FROM uw),
        |c2 AS (SELECT wk, CASE WHEN pv IS NULL THEN 'new'
        |         WHEN wk - pv = 7 THEN 'retained'
        |         ELSE 'resurrected' END AS cls FROM cl),
        |cnt AS (SELECT wk,
        |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM c2 GROUP BY 1),
        |act AS (SELECT wk, CAST(count(*) AS BIGINT) AS act FROM uw
        |        GROUP BY 1),
        |st AS (SELECT p.wk, CAST(count(*) AS BIGINT) AS stay
        |       FROM uw p JOIN uw c ON c.u = p.u AND c.wk = p.wk + 7
        |       GROUP BY 1),
        |hz AS (SELECT max(wk) AS mx FROM uw),
        |ch AS (SELECT a.wk + 7 AS wk,
        |         a.act - coalesce(st.stay, 0) AS churned
        |       FROM act a LEFT JOIN st ON st.wk = a.wk
        |       CROSS JOIN hz WHERE a.wk + 7 <= hz.mx)
        |SELECT coalesce(cnt.wk, ch.wk) AS week,
        |  CAST(coalesce(cnt.n_new, 0) AS BIGINT) AS n_new,
        |  CAST(coalesce(cnt.n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(coalesce(cnt.n_resurrected, 0) AS BIGINT)
        |    AS n_resurrected,
        |  CAST(coalesce(ch.churned, 0) AS BIGINT) AS n_churned
        |FROM cnt FULL OUTER JOIN ch ON ch.wk = cnt.wk
        |ORDER BY week""".stripMargin),
    // audience growth curve: cumulative distinct users via first-seen
    // days (never an expanding COUNT DISTINCT window)
    // cumulative-audience replay: first-seen day per user, day-level
    // running sum over the calendar-bounded frame
    Gate("q_cumulative_users", (s, d) => graft.ops.Events.cumulativeUsers(
      Tables.events(s, d), "user_id", "ts"))(
      """WITH f AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS fd
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1),
        |d AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS new_users
        |      FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
        |FROM d ORDER BY day""".stripMargin),
    // time-decay attribution: 2^(-dt/halflife) weights, 1h half-life
    Gate("q_decay_attribution", (s, d) => graft.ops.Events
      .timeDecayAttribution(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", "purchase", lookbackSec = 7200L,
        halflifeSec = 3600L))(
      """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |             event_id AS id, event_type AS ty FROM events),
        |c AS (SELECT u, us AS cus, id AS cid FROM b
        |      WHERE ty = 'purchase'),
        |t AS (SELECT u, us AS tus, ty FROM b WHERE ty <> 'purchase'),
        |p AS (SELECT c.u, c.cid, t.ty,
        |        pow(2.0, -(CAST(c.cus - t.tus AS DOUBLE)
        |                   / 3600000000.0)) AS w
        |      FROM c JOIN t ON t.u = c.u
        |      WHERE t.tus >= c.cus - 7200000000 AND t.tus < c.cus),
        |n AS (SELECT u, cid, sum(w) AS sw FROM p GROUP BY 1, 2),
        |cr AS (SELECT p.ty AS channel, p.w / n.sw AS credit
        |       FROM p JOIN n ON n.u = p.u AND n.cid = p.cid
        |       UNION ALL
        |       SELECT 'none' AS channel, CAST(1.0 AS DOUBLE) AS credit
        |       FROM c LEFT JOIN n ON n.u = c.u AND n.cid = c.cid
        |       WHERE n.u IS NULL)
        |SELECT channel, round(sum(credit), 6) AS credit,
        |  CAST(count(*) AS BIGINT) AS n_touchpoints
        |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin),
    // Markov removal-effect attribution: journey transition chain,
    // per-channel removal sweep over one variants dimension
    // removal-effect replay: Scala-generated unrolled propagation
    // chain (8 rounds), see markovOracle
    Gate("q_markov_attribution", (s, d) => graft.ops.Events
      .markovAttribution(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", "purchase", steps = 8))(
      markovOracle(8)),
    // Shapley coalition-game attribution over the same journeys
    // (caller-pinned 4-channel domain, exact-integer lattice)
    // Shapley replay: same journey split, literal channel-bit CASE,
    // 2^4 lattice from range(0,16), premultiplied integer weights
    // (s!(C-1-s)!: 6,2,2,6), one division by 4! at the end
    Gate("q_shapley", (s, d) => graft.ops.Events.shapleyAttribution(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      convType = "purchase",
      channels = Seq("click", "error", "signup", "view")))(
      """WITH j AS (SELECT user_id AS u, ts, event_id AS id,
        |    event_type AS ty,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
        |        ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts,
        |        event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
        |        PRECEDING), 0) AS jn
        |  FROM events),
        |jr AS (SELECT u, jn,
        |    max(CASE WHEN ty = 'purchase' THEN 1 ELSE 0 END) AS cv,
        |    coalesce(CAST(sum(DISTINCT CASE ty WHEN 'click' THEN 1
        |        WHEN 'error' THEN 2 WHEN 'signup' THEN 4
        |        WHEN 'view' THEN 8 END) AS BIGINT), 0) AS mask
        |  FROM j GROUP BY 1, 2),
        |cmt AS (SELECT mask AS t, CAST(sum(cv) AS BIGINT) AS cv
        |  FROM jr GROUP BY 1),
        |mk AS (SELECT CAST(range AS BIGINT) AS mask FROM range(0, 16)),
        |vv AS (SELECT mk.mask,
        |    CAST(coalesce(sum(cmt.cv), 0) AS BIGINT) AS v
        |  FROM mk LEFT JOIN cmt ON (cmt.t & mk.mask) = cmt.t
        |  GROUP BY 1),
        |ch AS (SELECT * FROM (VALUES (0, 'click', 1), (1, 'error', 2),
        |    (2, 'signup', 4), (3, 'view', 8)) AS t(i, channel, bit)),
        |mg AS (SELECT ch.channel,
        |    CAST(sum((CASE bit_count(s.mask) WHEN 0 THEN 6
        |      WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END)
        |      * (si.v - s.v)) AS BIGINT) AS num
        |  FROM ch JOIN vv s ON (s.mask & ch.bit) = 0
        |  JOIN vv si ON si.mask = s.mask + ch.bit
        |  GROUP BY 1),
        |ef AS (SELECT max(CASE WHEN mask = 15 THEN v END) AS vfull,
        |    max(CASE WHEN mask = 0 THEN v END) AS v0 FROM vv)
        |SELECT channel,
        |  round(CAST(num AS DOUBLE) / 24.0, 6) AS shapley_conversions,
        |  round(CASE WHEN vfull - v0 > 0
        |    THEN (CAST(num AS DOUBLE) / 24.0)
        |      / CAST(vfull - v0 AS DOUBLE) END, 6) AS share
        |FROM mg CROSS JOIN ef ORDER BY channel""".stripMargin),
    // top-20 session paths at the same 30000-second inactivity gap as
    // q_sessions, count ties broken by path
    // session paths: q_sessions' sessionization, ordered string_agg,
    // deterministic (n desc, path) top-20
    Gate("q_session_paths", (s, d) => graft.ops.Events.sessionPaths(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      gapSec = 30000L, topK = 20))(
      """WITH m AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(sum(nw) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM m),
        |p AS (SELECT user_id, session_idx,
        |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |      FROM s GROUP BY user_id, session_idx)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
  )

  /** Unrolled-CTE oracle for q_markov_attribution: journey windows,
    * removal-variant transition table (exact-int count quotients),
    * `steps` propagation rounds each rounded to the 1e-9 grid (the
    * pageRank iterative discipline), then removal effects with a
    * pinned-order share fold.
    */
  private def markovOracle(steps: Int): String = {
    val rounds = (1 to steps).map { k =>
      s"""v$k AS (SELECT t.v, t.to_s AS st,
         |    round(sum(m.mass * t.p), 9) AS mass
         |  FROM v${k - 1} m JOIN tt t ON t.v = m.v AND t.from_s = m.st
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH j AS (SELECT user_id AS u, ts, event_id AS id,
       |    CASE WHEN event_type = 'purchase' THEN 'CONV'
       |         ELSE event_type END AS st,
       |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
       |        ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts,
       |        event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
       |        PRECEDING), 0) AS jn
       |  FROM events),
       |tr AS (SELECT coalesce(lag(st) OVER (PARTITION BY u, jn
       |      ORDER BY ts, id), 'START') AS from_s, st AS to_s
       |  FROM j),
       |lastx AS (SELECT st,
       |    row_number() OVER (PARTITION BY u, jn
       |      ORDER BY ts DESC, id DESC) AS rn,
       |    max(CASE WHEN st = 'CONV' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY u, jn) AS hc
       |  FROM j),
       |alltr AS (SELECT from_s, to_s FROM tr
       |  UNION ALL SELECT st, 'NULL' FROM lastx
       |  WHERE rn = 1 AND hc = 0),
       |cnt AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS n
       |  FROM alltr GROUP BY 1, 2),
       |vr AS (SELECT DISTINCT from_s AS v FROM cnt
       |    WHERE from_s <> 'START'
       |  UNION ALL SELECT 'TOTAL'),
       |rcg AS (SELECT v, from_s,
       |    CASE WHEN v <> 'TOTAL' AND to_s = v THEN 'NULL'
       |         ELSE to_s END AS to_s,
       |    CAST(sum(n) AS BIGINT) AS n
       |  FROM cnt CROSS JOIN vr GROUP BY 1, 2, 3),
       |tt AS (SELECT v, from_s, to_s, CAST(n AS DOUBLE)
       |      / CAST(sum(n) OVER (PARTITION BY v, from_s) AS DOUBLE) AS p
       |    FROM rcg
       |  UNION ALL
       |  SELECT v, s.s, s.s, CAST(1.0 AS DOUBLE)
       |  FROM vr CROSS JOIN (SELECT 'CONV' AS s
       |    UNION ALL SELECT 'NULL') s),
       |v0 AS (SELECT v, 'START' AS st, CAST(1.0 AS DOUBLE) AS mass
       |  FROM vr),
       |$rounds,
       |pcv AS (SELECT vr.v, coalesce(p.mass, 0.0) AS pc
       |  FROM vr LEFT JOIN (SELECT v, mass FROM v$steps
       |    WHERE st = 'CONV') p ON p.v = vr.v),
       |eff AS (SELECT pcv.v AS channel, pcv.pc, t.pt,
       |    CASE WHEN t.pt > 0.0 THEN (t.pt - pcv.pc) / t.pt END AS re
       |  FROM pcv CROSS JOIN (SELECT pc AS pt FROM pcv
       |    WHERE v = 'TOTAL') t
       |  WHERE pcv.v <> 'TOTAL'),
       |sh AS (SELECT *, sum(re) OVER (ORDER BY channel ROWS BETWEEN
       |    UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS sre FROM eff)
       |SELECT channel, round(pt, 6) AS p_conv_total,
       |  round(pc, 6) AS p_conv_without,
       |  round(re, 6) AS removal_effect,
       |  round(CASE WHEN sre > 0.0 THEN re / sre END, 6)
       |    AS attribution_share
       |FROM sh ORDER BY channel""".stripMargin
  }
}
