package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-analytics operators — extension surface beyond the reference
  * (whose dashboards stop at per-status counts, streamlit/etl_logs.py:
  * 190-205): the two queries every product/events dashboard runs next,
  * expressed shuffle-minimally.
  *
  *  - [[retentionCohorts]]: the classic cohort-retention triangle
  *    (users active on day `cohort + offset`, grouped by first-active
  *    cohort day).
  *  - [[seqFunnel]]: ORDERED multi-step conversion with a per-step time
  *    bound — step k counts only users whose step-k event happens AFTER
  *    their step-(k-1) anchor and within `withinSec` of it (unlike
  *    q_funnel's membership joins, sequence and recency matter here).
  */
object Events {

  /** Cohort retention: distinct (user, day) activity → per-user cohort
    * (min day) → count of active users per (cohort, day offset).
    *
    * Scale shape: ONE distinct on (user, day) (map-side combined — raw
    * event volume collapses to user×day before the exchange), a groupBy
    * keyed on user, and a user-keyed equi-join that reuses the same hash
    * partitioning; the output frame is bounded by days², never by event
    * count. No window, no global sort until the final bounded ORDER BY.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
                       timeCol: String): DataFrame = {
    val ud = events
      .select(col(userCol).as("__u"), to_date(col(timeCol)).as("__day"))
      .where(col("__u").isNotNull && col("__day").isNotNull)
      .distinct()
    val cohorts = ud.groupBy(col("__u")).agg(min(col("__day")).as("cohort"))
    ud.join(cohorts, "__u")
      .groupBy(col("cohort"),
        datediff(col("__day"), col("cohort")).cast("long").as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "offset_days")
  }

  /** Ordered time-bounded funnel: for each step k (after the first), a
    * user converts iff they have a `steps(k)` event strictly after their
    * step-(k-1) anchor time and within `withinSec` of it; the anchor for
    * the next step is the EARLIEST such event. Output: one row per step
    * (step, event_type, n_users), ordered.
    *
    * Scale shape: one filtered groupBy(user) per step plus one user-keyed
    * equi-join per step transition — k-1 co-partitioned hash joins total,
    * each against a frame bounded by USER cardinality, not event volume.
    * The events source is scanned ONCE: the (user, time, type)
    * projection, pre-filtered to the funnel's step types, is
    * localCheckpoint'd and every per-step filter reads the materialized
    * blocks (the same one-scan discipline as collocations) — without it
    * a k-step funnel re-scans the corpus k times. The per-step time
    * bound uses exact microsecond arithmetic. The final step-count frame
    * is k rows; its union/sort is trivially bounded.
    */
  def seqFunnel(events: DataFrame, userCol: String, timeCol: String,
                typeCol: String, steps: Seq[String],
                withinSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val widthUs = withinSec * 1000000L
    val base = events.select(col(userCol).as("__u"),
      unix_micros(col(timeCol).cast("timestamp")).as("__us"),
      col(typeCol).as("__ty"))
      .where(col("__ty").isin(steps: _*))
      .localCheckpoint()
    val first = base.where(col("__ty") === steps.head)
      .groupBy(col("__u")).agg(min(col("__us")).as("__t"))
    val anchors = steps.tail.scanLeft(first) { (prev, step) =>
      base.where(col("__ty") === step)
        .join(prev.select(col("__u"), col("__t").as("__pt")), Seq("__u"))
        .where(col("__us") > col("__pt") &&
          col("__us") <= col("__pt") + widthUs)
        .groupBy(col("__u")).agg(min(col("__us")).as("__t"))
    }
    anchors.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      // global agg, not groupBy(lit): a zero-conversion step must still
      // emit its row with n_users = 0 (an empty grouped frame would not)
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(step).as("event_type"),
          col("n_users"))
    }.reduce(_.unionByName(_))
      .orderBy("step")
  }

  /** Event-type transition matrix: per-user consecutive event-type
    * bigrams (ordered by time with the event id as the deterministic
    * tiebreak — the session-analysis ordering discipline) counted into
    * (from_type, to_type, n) with the row-normalized transition
    * probability — the first-order Markov read of "what do users do
    * next", and the input a next-event-prediction baseline trains on.
    *
    * Scale shape: one user-partitioned lag window (co-partitioned with
    * the user key — exactly the sessionization exchange), then a
    * map-side-combined groupBy whose output is bounded by the event-type
    * domain squared, never event volume. The probability normalization
    * is a window over that bounded matrix frame.
    */
  def transitions(events: DataFrame, userCol: String, timeCol: String,
                  idCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = typePairs(events, userCol, timeCol, idCol, typeCol)
    val byFrom = Window.partitionBy("from_type")
    pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(byFrom), 6))
      .orderBy("from_type", "to_type")
  }

  /** Per user, each event's type (`to_type`) beside the type of the
    * user's previous event (`from_type`), ordered by time with the event
    * id as the deterministic tiebreak; first events drop out.
    */
  private def typePairs(events: DataFrame, userCol: String, timeCol: String,
                        idCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
      .orderBy(col(timeCol), col(idCol))
    events
      .select(col(userCol), col(timeCol), col(idCol),
        col(typeCol).as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .where(col("from_type").isNotNull)
  }

  /** Last-touch attribution: each `convType` event is credited to the
    * event type of the LATEST preceding non-conversion event by the same
    * user within `lookbackSec` (strictly before the conversion instant);
    * conversions with no such event are credited to 'none'. Output: one
    * row per channel with its conversion count — the budget-allocation
    * table every growth dashboard derives from raw events.
    *
    * The "latest preceding within the lookback" is a user-partitioned
    * RANGE window over the microsecond timestamp — no self-join, no
    * as-of machinery: the frame `[t−L, t−1µs]` picks candidates and
    * `max(struct(time, id, type))` picks the lexicographically latest
    * deterministically (id breaks exact-time ties). One exchange on the
    * user key; the final groupBy is bounded by the type domain.
    * Same-microsecond non-conversion events are excluded by the strict
    * frame bound — at-conversion-instant touches are ambiguous credit
    * and both engines must agree, so the boundary is closed-open.
    */
  def lastTouchAttribution(events: DataFrame, userCol: String,
                           timeCol: String, idCol: String, typeCol: String,
                           convType: String,
                           lookbackSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val widthUs = lookbackSec * 1000000L
    val base = events.select(col(userCol).as("__u"),
      unix_micros(col(timeCol).cast("timestamp")).as("__us"),
      col(idCol).as("__id"), col(typeCol).as("__ty"))
    val w = Window.partitionBy(col("__u")).orderBy(col("__us"))
      .rangeBetween(-widthUs, -1L)
    base
      .withColumn("__touch", max(when(col("__ty") =!= convType,
        struct(col("__us"), col("__id"), col("__ty")))).over(w))
      .where(col("__ty") === convType)
      .select(coalesce(col("__touch.__ty"), lit("none")).as("channel"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy("channel")
  }

  /** Rolling k-day active users (the WAU/MAU curve): for each calendar
    * day, the count of distinct users active in the trailing k-day
    * window. Sliding distinct counts don't compose from daily distincts
    * (users overlap), so the plan EXPLODES each (user, day) activity
    * fact onto the k window-ends it contributes to — bounded fan-out k,
    * never a self-join — and distinct-counts per window end. Volume
    * collapses to (user, day) pairs map-side before the fan-out; shuffle
    * carries k·|user-days| keys. Window ends past the last active day
    * are trimmed (every reported window end is a real activity day).
    */
  def rollingActiveUsers(events: DataFrame, userCol: String,
                         timeCol: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1 && windowDays <= 92,
      "rollingActiveUsers needs 1 <= windowDays <= 92")
    val userDays = events
      .select(col(userCol).as("__u"),
        to_date(col(timeCol)).as("__day"))
      .distinct()
    val days = userDays.select(col("__day").as("window_end")).distinct()
    userDays
      .select(col("__u"), explode(sequence(lit(0),
        lit(windowDays - 1))).as("__o"), col("__day"))
      .withColumn("window_end", date_add(col("__day"), col("__o")))
      .join(days, "window_end")
      .groupBy(col("window_end"))
      .agg(countDistinct(col("__u")).as("active_users"))
      .orderBy("window_end")
  }

  /** The shared conversion↔touch pairing behind [[linearAttribution]] and
    * [[timeDecayAttribution]]: (user, TIME-BAND) equi-join + the
    * [t − L, t) range filter — the [[Temporal.bandFollowers]] discipline.
    * Banding by the lookback width L means a conversion meets only the
    * touches in its own and the previous L-band (every in-window touch
    * lives in one of those two), so join fan-out is bounded by the
    * lookback's event density, not conversions × touches per user — a
    * single hyperactive user no longer goes quadratic. Each in-window
    * pair matches exactly one of the two exploded bands, so no dedup is
    * needed. Returns (__u, __cus, __cid, __tus, __ty) pairs plus the
    * conversion frame for the untouched-conversion anti-join.
    */
  private def conversionTouchPairs(base: DataFrame, convType: String,
                                   widthUs: Long)
      : (DataFrame, DataFrame) = {
    val convs = base.where(col("__ty") === convType)
      .select(col("__u"), col("__us").as("__cus"), col("__id").as("__cid"))
    val touches = base.where(col("__ty") =!= convType)
      .select(col("__u").as("__tu"), col("__us").as("__tus"), col("__ty"))
      .withColumn("__b", expr(s"__tus div ${widthUs}L"))
    val banded = convs
      .withColumn("__b", explode(array(expr(s"__cus div ${widthUs}L"),
        expr(s"__cus div ${widthUs}L - 1L"))))
    val pairs = banded
      .join(touches, banded("__u") === touches("__tu") &&
        banded("__b") === touches("__b"))
      .where(col("__tus") >= col("__cus") - lit(widthUs) &&
        col("__tus") < col("__cus"))
      .select(col("__u"), col("__cus"), col("__cid"), col("__tus"),
        col("__ty"))
    (pairs, convs)
  }

  /** Linear multi-touch attribution — [[lastTouchAttribution]]'s
    * fair-share sibling: every touch in the conversion's lookback window
    * splits the credit equally (1/n each), so assist channels stop
    * reading as zero. Touch-conversion pairs ride the (user, time-band)
    * equi-join of [[conversionTouchPairs]] (fan-out bounded by the
    * lookback width's event density, never per-user event count
    * squared), the per-conversion touch count is one groupBy over those
    * pairs, and channel credits collapse map-side. Conversions with NO
    * touch in window credit "none" in full, so totals reconcile with the
    * conversion count. Window is [t − lookback, t), the last-touch
    * boundary contract.
    */
  def linearAttribution(events: DataFrame, userCol: String,
                        timeCol: String, idCol: String, typeCol: String,
                        convType: String, lookbackSec: Long): DataFrame = {
    val widthUs = lookbackSec * 1000000L
    val base = events.select(col(userCol).as("__u"),
      unix_micros(col(timeCol).cast("timestamp")).as("__us"),
      col(idCol).as("__id"), col(typeCol).as("__ty"))
    val (pairs, convs) = conversionTouchPairs(base, convType, widthUs)
    val credited = pairs
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__u"), col("__cid"))))
      .select(col("__ty").as("channel"),
        (lit(1.0) / col("__n")).as("__credit"))
    channelCredits(credited, pairs, convs)
  }

  /** Per channel, the summed `__credit` of the touch rows `credited`
    * plus a full credit to "none" for every conversion in `convs` with
    * no touch in `pairs`, and the number of credited rows.
    */
  private def channelCredits(credited: DataFrame, pairs: DataFrame,
                             convs: DataFrame): DataFrame = {
    val untouched = convs.join(pairs.select(col("__u"),
          col("__cid")).distinct(),
        Seq("__u", "__cid"), "left_anti")
      .select(lit("none").as("channel"), lit(1.0).as("__credit"))
    credited.unionByName(untouched)
      .groupBy("channel")
      .agg(round(sum(col("__credit")), 6).as("credit"),
        count(lit(1)).as("n_touchpoints"))
      .orderBy("channel")
  }

  /** Time-decay attribution — the third of the attribution family
    * (last-touch winner-takes-all, [[linearAttribution]] equal-split,
    * this one recency-weighted): each in-window touch carries weight
    * 2^(−Δt/halflife) and takes its share of the conversion's unit
    * credit. Base 2 (not e) so both engines call the same `pow(2, x)`
    * primitive on the same operand. Same banded join shape
    * ([[conversionTouchPairs]]) and [t − L, t) boundary as
    * [[linearAttribution]]; untouched conversions credit "none" in
    * full, so channel credits still sum to the conversion count.
    */
  def timeDecayAttribution(events: DataFrame, userCol: String,
                           timeCol: String, idCol: String, typeCol: String,
                           convType: String, lookbackSec: Long,
                           halflifeSec: Long): DataFrame = {
    require(halflifeSec > 0, "timeDecayAttribution needs halflifeSec > 0")
    val widthUs = lookbackSec * 1000000L
    val base = events.select(col(userCol).as("__u"),
      unix_micros(col(timeCol).cast("timestamp")).as("__us"),
      col(idCol).as("__id"), col(typeCol).as("__ty"))
    val (rawPairs, convs) = conversionTouchPairs(base, convType, widthUs)
    val pairs = rawPairs
      .withColumn("__w", pow(lit(2.0),
        -((col("__cus") - col("__tus")).cast("double") /
          lit(halflifeSec * 1000000.0))))
    val credited = pairs
      .withColumn("__sw", sum(col("__w")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__u"), col("__cid"))))
      .select(col("__ty").as("channel"),
        (col("__w") / col("__sw")).as("__credit"))
    channelCredits(credited, pairs, convs)
  }

  /** Top-k session paths: sessionize (same inactivity-gap rule as the
    * streaming sessionization twin), render each session as its ordered
    * event-type sequence (`view>click>purchase`), and count sessions per
    * path — the "how do users actually traverse the product" table that
    * funnels presuppose an answer to.
    *
    * Scale shape: sessionization is the one user-keyed window exchange;
    * the path string builds from a per-session sorted struct array (state
    * bounded by session length, the EWMA discipline); the final top-k is
    * `orderBy(...).limit(k)` — a TakeOrdered per-partition heap merge,
    * never a global sort. Count ties break to the lexicographically first
    * path so the cut is deterministic cross-engine.
    */
  def sessionPaths(events: DataFrame, userCol: String, timeCol: String,
                   idCol: String, typeCol: String, gapSec: Long,
                   topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "sessionPaths needs topK > 0")
    val w = Window.partitionBy(col("__u")).orderBy(col("__us"), col("__id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events.select(col(userCol).as("__u"),
        unix_micros(col(timeCol).cast("timestamp")).as("__us"),
        col(idCol).as("__id"), col(typeCol).as("__ty"))
      .withColumn("__nw",
        when(lag(col("__us"), 1).over(w).isNull ||
          col("__us") - lag(col("__us"), 1).over(w) > gapSec * 1000000L,
          1L).otherwise(0L))
      .withColumn("__sess", sum(col("__nw")).over(cum))
    sess.groupBy("__u", "__sess")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__us"), col("__id"),
          col("__ty")))), p => p.getField("__ty")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Per-user time-to-convert: minutes from a user's FIRST `fromType`
    * event to their EARLIEST `toType` event strictly after it — the gap
    * sample behind conversion-latency SLAs (feed the output to
    * [[Stats.groupedPercentiles]] for the p50/p90/p99 table). Users who
    * never convert after their anchor produce no row (the censored
    * population is [[Stats.kaplanMeier]]'s job, not a percentile's).
    *
    * Scale shape: two filtered user-keyed min-aggregates and one
    * user-keyed equi-join — conversion events collapse per user BEFORE
    * the join, so fan-out is one row per converting user. Microsecond
    * arithmetic throughout; the minutes division is one IEEE op.
    */
  def timeToConvert(events: DataFrame, userCol: String, timeCol: String,
                    typeCol: String, fromType: String,
                    toType: String): DataFrame = {
    val base = events.select(col(userCol).as("__u"),
      unix_micros(col(timeCol).cast("timestamp")).as("__us"),
      col(typeCol).as("__ty"))
    val anchors = base.where(col("__ty") === fromType)
      .groupBy(col("__u")).agg(min(col("__us")).as("__t0"))
    base.where(col("__ty") === toType)
      .join(anchors, "__u")
      .where(col("__us") > col("__t0"))
      .groupBy(col("__u"), col("__t0"))
      .agg(min(col("__us")).as("__t1"))
      .select(col("__u").as(userCol),
        ((col("__t1") - col("__t0")).cast("double") / 60000000.0)
          .as("gap_minutes"))
  }

  /** Weekly growth accounting — the new / retained / resurrected /
    * churned decomposition every growth dashboard opens with (net change
    * alone hides churn masked by acquisition). Weeks are Monday-anchored
    * date_trunc buckets; per (user, week) activity classifies as:
    * `new` (first-ever active week), `retained` (also active the
    * previous week), `resurrected` (active, gap behind it); `churned`
    * counts users active the PREVIOUS week who are absent this week,
    * attributed to the absent week — INCLUDING fully dead weeks
    * (emitted with zero activity counts), up to the last observed
    * activity week; users active in the final week are right-censored,
    * not churned.
    *
    * Scale shape: events collapse to distinct (user, week) map-side;
    * first-week and previous-week signals are per-user windows (lag +
    * running min) over the user's bounded week list; churn re-keys the
    * SAME frame by week+7days and anti-counts via a left join on the
    * week-level frame — no corpus-sized window, output bounded by weeks.
    */
  def growthAccounting(events: DataFrame, userCol: String,
                       timeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = events
      .select(col(userCol).as("u"),
        date_trunc("week", col(timeCol)).cast("date").as("wk"))
      .where(col("u").isNotNull && col("wk").isNotNull)
      .distinct()
      .localCheckpoint()
    val w = Window.partitionBy("u").orderBy("wk")
    val classified = uw
      .withColumn("__prev", lag(col("wk"), 1).over(w))
      .withColumn("__cls",
        when(col("__prev").isNull, "new")
          .when(datediff(col("wk"), col("__prev")) === 7, "retained")
          .otherwise("resurrected"))
    val counts = classified.groupBy(col("wk"))
      .agg(
        sum(when(col("__cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    // churned(w) = active in w-1 but not in w: shift last week's actives
    // forward and anti-count against this week's actives. FULL-outer
    // against the activity counts: a completely dead week still carries
    // its churn (that absence IS the signal this decomposition exists
    // for); only the week past the observation horizon is cut — users
    // active in the final week are right-censored, not churned.
    val active = uw.groupBy(col("wk"))
      .agg(count(lit(1)).as("__act"))
    val stayed = uw.as("p")
      .join(uw.as("c"), col("c.u") === col("p.u") &&
        col("c.wk") === date_add(col("p.wk"), 7))
      .groupBy(col("p.wk")).agg(count(lit(1)).as("__stay"))
    val horizon = uw.agg(max(col("wk")).as("__maxwk"))
    val churn = active.as("a")
      .join(stayed.withColumnRenamed("wk", "__pw"),
        col("a.wk") === col("__pw"), "left")
      .select(date_add(col("a.wk"), 7).as("wk"),
        (col("__act") - coalesce(col("__stay"), lit(0L)))
          .as("churned"))
      .crossJoin(broadcast(horizon))
      .where(col("wk") <= col("__maxwk"))
      .select(col("wk"), col("churned"))
    counts.join(churn, Seq("wk"), "full_outer")
      .select(col("wk").as("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("churned"), lit(0L)).as("n_churned"))
      .orderBy("week")
  }

  /** Cumulative distinct users to date — the total-audience growth curve
    * ("users ever seen by day D"). The naive cumulative COUNT(DISTINCT)
    * over an expanding window is quadratic; here each user contributes
    * exactly their FIRST-seen day (one map-side-combined min groupBy),
    * first-seen counts roll up per day, and the running sum runs over
    * the calendar-bounded day frame (the q_concurrency carry
    * discipline — cardinality-bounded single partition). Emitted only
    * for days where someone was first seen.
    */
  def cumulativeUsers(events: DataFrame, userCol: String,
                      timeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = events
      .select(col(userCol).as("u"), to_date(col(timeCol)).as("__day"))
      .where(col("u").isNotNull && col("__day").isNotNull)
      .groupBy(col("u")).agg(min(col("__day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
    firstSeen
      .withColumn("total_users", sum(col("new_users"))
        .over(Window.orderBy("first_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("first_day").as("day"), col("new_users"),
        col("total_users"))
      .orderBy("day")
  }

  /** Longest consecutive-day activity streak per user — the gaps-and-
    * islands pattern (`day − row_number()` is constant within an island
    * of consecutive dates), the engagement metric behind every "N-day
    * streak" badge.
    *
    * Scale shape: raw events collapse to distinct (user, day) with
    * map-side combine BEFORE any window; the island window and the
    * longest-pick window are both partitioned by user (bounded by the
    * calendar span per user, never corpus-sized); output is one row per
    * user, cut to `topK` under the total order (streak_days DESC,
    * user_id) so the limit is deterministic. Ties between equal-length
    * islands of one user resolve to the EARLIEST start — mirror both
    * tie-breaks in any oracle.
    */
  def activityStreaks(events: DataFrame, userCol: String,
                      timeCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "activityStreaks needs topK > 0")
    val ud = events
      .select(col(userCol).as("user_id"),
        to_date(col(timeCol)).as("__day"))
      .where(col("user_id").isNotNull && col("__day").isNotNull)
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("__day")
    val islands = ud
      .withColumn("__isl", date_sub(col("__day"),
        row_number().over(w)))
      .groupBy(col("user_id"), col("__isl"))
      .agg(count(lit(1)).cast("long").as("streak_days"),
        min(col("__day")).as("streak_start"))
    val pick = Window.partitionBy("user_id")
      .orderBy(col("streak_days").desc, col("streak_start").asc)
    islands.withColumn("__r", row_number().over(pick))
      .where(col("__r") === 1)
      .select(col("user_id"), col("streak_start"), col("streak_days"))
      .orderBy(col("streak_days").desc, col("user_id"))
      .limit(topK)
  }

  /** Entropy rate of the user-journey transition chain — "how
    * PREDICTABLE is behavior?": per source state the outgoing Shannon
    * entropy H_s = −Σ p ln p, weighted by the state's visit share π_s
    * into the chain's entropy rate Σ π_s H_s (nats). Low = scripted
    * flows (good for caching/prefetch, suspicious for bot traffic);
    * high = exploratory. `effective_branching` = e^H is the
    * perplexity-style "as-if uniform fan-out" read. The information-
    * theoretic companion to [[transitions]] (same pair construction).
    *
    * Determinism: transition probabilities are exact-integer count
    * quotients; both entropy folds run PINNED (to-state order within
    * source, source order for the rate); ln/exp follow the
    * [[graft.ops.Text]] perplexity precedent (same expression text both
    * engines, result rounded to 6).
    *
    * Scale shape: one user-keyed window exchange, then everything is
    * TYPE-DOMAIN-bounded.
    */
  def transitionEntropy(events: DataFrame, userCol: String,
                        timeCol: String, idCol: String,
                        typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = typePairs(events, userCol, timeCol, idCol, typeCol)
    val cnt = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy("from_type")
    val wFromPin = Window.partitionBy("from_type").orderBy("to_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPin = Window.orderBy("from_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cnt
      .withColumn("__nf", sum(col("n")).over(wFrom))
      .withColumn("__p",
        col("n").cast("double") / col("__nf").cast("double"))
      .withColumn("__h", sum(lit(0.0) - col("__p") * log(col("__p")))
        .over(wFromPin))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("from_type").orderBy("to_type")))
      .where(col("__rn") === 1)
      .withColumn("__nt", sum(col("__nf")).over(wPin))
      .withColumn("__pi",
        col("__nf").cast("double") / col("__nt").cast("double"))
      .withColumn("__rate", sum(col("__pi") * col("__h")).over(wPin))
      .select(col("from_type"), col("__nf").as("n_out"),
        round(col("__h"), 6).as("h_row"),
        round(exp(col("__h")), 6).as("effective_branching"),
        round(col("__pi"), 6).as("visit_share"),
        round(col("__pi") * col("__h"), 6).as("contribution"),
        round(col("__rate"), 6).as("entropy_rate"))
      .orderBy("from_type")
  }

  /** First-order Markov removal-effect attribution (Anderl et al. 2014
    * — the data-driven alternative to the positional rules of
    * [[linearAttribution]]/[[timeDecayAttribution]]): user journeys
    * (touch sequences split at each conversion; trailing touches end in
    * the NULL absorber) define a transition matrix over
    * START/channels/CONV/NULL; a channel's credit is its REMOVAL
    * EFFECT — how much the START→CONV absorption probability drops when
    * every transition into that channel is redirected to NULL.
    * Absorption is computed by a fixed `steps`-round mass propagation
    * (absorbing chains converge geometrically; CONV/NULL self-loop so
    * absorbed mass accumulates).
    *
    * Determinism: transition probabilities are exact-integer-count
    * quotients; each propagation round rounds to the 1e-9 grid (the
    * [[Graph.pageRank]] iterative discipline) so cross-engine sum-order
    * drift cannot accumulate; the share normalizer folds in PINNED
    * channel order.
    *
    * Scale shape: one user-keyed window exchange builds journeys; the
    * transition count is TYPE-DOMAIN-bounded, and every propagation
    * round is a join over the (variants × states)-bounded frame —
    * channel-count work, never corpus work, after the first aggregate.
    * Removal effects can legitimately be negative (removing a channel
    * that mostly precedes abandonment RAISES conversion); shares are
    * only reported when the effect sum is positive.
    */
  def markovAttribution(events: DataFrame, userCol: String,
                        timeCol: String, idCol: String, typeCol: String,
                        convType: String, steps: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(steps >= 1 && steps <= 16,
      "markovAttribution runs a fixed 1..16 propagation rounds")
    val base = events.select(col(userCol).as("__u"),
      col(timeCol).as("__ts"), col(idCol).as("__id"),
      col(typeCol).as("__ty"))
    val wU = Window.partitionBy("__u").orderBy(col("__ts"), col("__id"))
    val j = base
      .withColumn("__jn", coalesce(
        sum(when(col("__ty") === convType, 1).otherwise(0))
          .over(wU.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__st", when(col("__ty") === convType, lit("CONV"))
        .otherwise(col("__ty")))
    val wJ = Window.partitionBy("__u", "__jn")
      .orderBy(col("__ts"), col("__id"))
    val tr = j
      .withColumn("__from",
        coalesce(lag(col("__st"), 1).over(wJ), lit("START")))
      .select(col("__from").as("from_s"), col("__st").as("to_s"))
    val wJd = Window.partitionBy("__u", "__jn")
      .orderBy(col("__ts").desc, col("__id").desc)
    val tails = j
      .withColumn("__rn", row_number().over(wJd))
      .withColumn("__hc", max(when(col("__st") === "CONV", 1)
        .otherwise(0)).over(Window.partitionBy("__u", "__jn")))
      .where(col("__rn") === 1 && col("__hc") === 0)
      .select(col("__st").as("from_s"), lit("NULL").as("to_s"))
    val cnt = tr.unionAll(tails).groupBy("from_s", "to_s")
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val variants = cnt.select(col("from_s").as("v"))
      .where(col("v") =!= "START").distinct()
      .unionAll(events.sparkSession.range(1)
        .select(lit("TOTAL").as("v")))
      .localCheckpoint()
    val wVF = Window.partitionBy("v", "from_s")
    val absorb = variants
      .select(col("v"),
        explode(array(lit("CONV"), lit("NULL"))).as("from_s"))
      .select(col("v"), col("from_s"), col("from_s").as("to_s"),
        lit(1.0).as("p"))
    val trans = cnt.crossJoin(variants)
      .select(col("v"), col("from_s"),
        when(col("v") =!= "TOTAL" && col("to_s") === col("v"),
          lit("NULL")).otherwise(col("to_s")).as("to_s"),
        col("n"))
      .groupBy("v", "from_s", "to_s").agg(sum(col("n")).as("n"))
      .withColumn("p", col("n").cast("double")
        / sum(col("n")).over(wVF).cast("double"))
      .select(col("v"), col("from_s"), col("to_s"), col("p"))
      .unionAll(absorb)
      .localCheckpoint()
    val start = variants
      .select(col("v"), lit("START").as("st"), lit(1.0).as("mass"))
      .localCheckpoint()
    val mass = Par.iterate("markovAttribution", steps, start) { (mass, _) =>
      val m = mass.select(col("v").as("__mv"), col("st"), col("mass"))
      trans
        .join(m, col("v") === col("__mv") && col("from_s") === col("st"))
        .groupBy(col("v"), col("to_s"))
        .agg(round(sum(col("mass") * col("p")), 9).as("mass"))
        .select(col("v"), col("to_s").as("st"), col("mass"))
    }
    val pcv = variants
      .join(mass.where(col("st") === "CONV")
        .select(col("v"), col("mass")), Seq("v"), "left")
      .select(col("v"), coalesce(col("mass"), lit(0.0)).as("pc"))
      .localCheckpoint()
    val tot = broadcast(pcv.where(col("v") === "TOTAL")
      .select(col("pc").as("pt")))
    val wPin = Window.orderBy("channel")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pcv.where(col("v") =!= "TOTAL")
      .select(col("v").as("channel"), col("pc"))
      .crossJoin(tot)
      .withColumn("re",
        when(col("pt") > 0.0, (col("pt") - col("pc")) / col("pt")))
      .withColumn("sre", sum(col("re")).over(wPin))
      .select(col("channel"),
        round(col("pt"), 6).as("p_conv_total"),
        round(col("pc"), 6).as("p_conv_without"),
        round(col("re"), 6).as("removal_effect"),
        round(when(col("sre") > 0.0, col("re") / col("sre")), 6)
          .as("attribution_share"))
      .orderBy("channel")
  }

  /** Shapley-value channel attribution (Shapley '53 applied to MTA —
    * the coalition-game alternative to [[markovAttribution]]'s removal
    * effects, and the one with the axiomatic fairness guarantees:
    * efficiency, symmetry, dummy). Journeys (split at each conversion,
    * the [[markovAttribution]] discipline) collapse to their DISTINCT
    * touched-channel SET; the characteristic function
    * v(S) = converting journeys whose set ⊆ S; channel i's credit is
    * Σ_{S ∌ i} |S|!(C−1−|S|)!/C! · (v(S∪i) − v(S)). Σ credits =
    * v(full) − v(∅) (conversions with at least one touch) — the
    * efficiency axiom, asserted in the spec.
    *
    * `channels` is the CALLER-PINNED channel domain (order fixes the
    * bit layout; types outside it — and the conversion type — don't
    * enter the masks). The 2^C lattice is enumerated explicitly, so
    * C ≤ 10.
    *
    * Determinism: masks, v(S), and the weighted numerator are EXACT
    * INTEGERS (weights are premultiplied by C! — s!(C−1−s)! is a whole
    * number — so the sum commutes in any order); the ONLY float is the
    * final division by C!, rounded to 6.
    *
    * Scale shape: one user-keyed window exchange builds journeys; one
    * corpus groupBy collapses them to ≤2^C exact-set counts; everything
    * after runs on 2^C-bounded frames (the containment join, the
    * channel×subset marginal join) — lattice work, never corpus work.
    */
  def shapleyAttribution(events: DataFrame, userCol: String,
                         timeCol: String, idCol: String,
                         typeCol: String, convType: String,
                         channels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(channels.nonEmpty && channels.size <= 10,
      "shapleyAttribution enumerates 2^C subsets — needs 1 <= C <= 10")
    require(channels.distinct.size == channels.size &&
      !channels.contains(convType),
      "channels must be distinct and exclude the conversion type")
    val C = channels.size
    val spark = events.sparkSession
    def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
    val base = events.select(col(userCol).as("__u"),
      col(timeCol).as("__ts"), col(idCol).as("__id"),
      col(typeCol).as("__ty"))
    val wU = Window.partitionBy("__u").orderBy(col("__ts"), col("__id"))
    // channel -> its bit, via a literal when-chain (caller-pinned order)
    val bitCol = channels.zipWithIndex.foldLeft(
      lit(null).cast("long")) { case (acc, (c, i)) =>
      when(col("__ty") === c, lit(1L << i)).otherwise(acc)
    }
    val journeys = base
      .withColumn("__jn", coalesce(
        sum(when(col("__ty") === convType, 1).otherwise(0))
          .over(wU.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__bit", bitCol)
      .groupBy(col("__u"), col("__jn"))
      .agg(max(when(col("__ty") === convType, 1).otherwise(0))
        .as("__cv"),
        coalesce(sum_distinct(col("__bit")), lit(0L)).as("__mask"))
    val cm = broadcast(journeys
      .groupBy(col("__mask").as("t"))
      .agg(sum(col("__cv")).cast("long").as("cv"))
      .localCheckpoint(eager = true))
    val masks = spark.range(1L << C).select(col("id").as("mask"))
    // v(S) = Σ_{T ⊆ S} conv(T): containment via T & S = T over the
    // 2^C × observed-set lattice
    val v = masks.join(cm,
        col("t").bitwiseAND(col("mask")) === col("t"), "left")
      .groupBy(col("mask"))
      .agg(coalesce(sum(col("cv")), lit(0L)).as("v"))
      .localCheckpoint(eager = true)
    val wInt = (0 until C).foldLeft(lit(0L)) { (acc, s) =>
      when(bit_count(col("s.mask")) === s,
        lit(fact(s) * fact(C - 1 - s))).otherwise(acc)
    }
    val chanBit = (0 until C).foldLeft(lit(0L)) { (acc, i) =>
      when(col("i") === i, lit(1L << i)).otherwise(acc)
    }
    val chanF = broadcast(spark.range(1)
      .select(posexplode(array(channels.map(lit): _*))
        .as(Seq("i", "channel"))))
    val contrib = chanF.crossJoin(v.as("s"))
      .withColumn("__bit", chanBit)
      .where(col("s.mask").bitwiseAND(col("__bit")) === 0)
      .join(v.as("si"), col("si.mask") === col("s.mask") + col("__bit"))
      .groupBy(col("channel"))
      .agg(sum(wInt * (col("si.v") - col("s.v"))).as("__num"))
    val eff = broadcast(v.agg(
      sum(when(col("mask") === lit((1L << C) - 1), col("v")))
        .as("__vfull"),
      sum(when(col("mask") === 0L, col("v"))).as("__v0")))
    contrib.crossJoin(eff)
      .select(col("channel"),
        round(col("__num").cast("double") / lit(fact(C).toDouble), 6)
          .as("shapley_conversions"),
        round(when(col("__vfull") - col("__v0") > 0,
          (col("__num").cast("double") / lit(fact(C).toDouble)) /
            (col("__vfull") - col("__v0")).cast("double")), 6)
          .as("share"))
      .orderBy("channel")
  }
}
