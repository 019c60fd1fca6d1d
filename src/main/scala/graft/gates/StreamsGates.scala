package graft
package gates

import Shared._

/** The gates whose plans call [[graft.streaming.Streams]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object StreamsGates {
  val all: Seq[Gate] = Seq(
    // the live twin: per-hour backoff-depth mix of the incoming
    // (eval-split) stream scored against the published LM index —
    // deep-rung share jumping = verbatim re-crawl of the train corpus,
    // base-rung share jumping = gibberish/new-language/encoding break
    // the streaming twin's batch replay: per-hour two-level rollup of
    // the same depth chain (sc carries the per-gram backoff depth)
    Gate("q_windowed_lm_depth", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      // the monitor's contract says `index` is a MATERIALIZED parameter
      // table — consume the per-JVM published parquet index (r17; the
      // scoring core lazily pins the bounded scan itself)
      val idx = lmIndexModel(s, d)
      val stream = docs.filter(col("doc_id") % 7 === 0).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        col("doc_id"), col("text"))
      graft.streaming.Streams.windowedLmDepthMix(stream, "ts",
        "doc_id", "text", idx).orderBy("window_start")
    })(
      (lm5gramChainSql + ",\n" +
      """pdw AS (SELECT sc.doc_id,
        |    time_bucket(INTERVAL 1 HOUR,
        |      TIMESTAMP '2024-01-01 00:00:00' + to_minutes(sc.doc_id))
        |      AS ws,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN depth >= 4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS deep,
        |    CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS base
        |  FROM sc GROUP BY 1, 2)
        |SELECT CAST(ws AS TIMESTAMP) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_5grams,
        |  CAST(sum(deep) AS BIGINT) AS n_deep_hits,
        |  CAST(sum(base) AS BIGINT) AS n_base_hits,
        |  round(CAST(sum(deep) AS DOUBLE) / sum(n), 6) AS share_deep,
        |  round(CAST(sum(base) AS DOUBLE) / sum(n), 6) AS share_base
        |FROM pdw GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the tokenizer-drift alarm: per-hour stream fertility under the
    // PUBLISHED unigram vocab — the third published-table family's
    // live monitor (beside span hits and LM backoff depth)
    Gate("q_windowed_fertility", (s, d) => {
      import org.apache.spark.sql.functions._
      val stream = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 0).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        col("doc_id"), col("text"))
      graft.streaming.Streams.windowedTokenizerFertility(stream, "ts",
        "doc_id", "text", unigramVocabModel(s, d))
        .orderBy("window_start")
    })(
      windowedFertilityOracle(3)),
    // Streaming surface, batch twin (same transform runs on readStream;
    // StreamingSpec drives it with MemoryStream + watermark)
    Gate("q_windowed_rates", (s, d) =>
      graft.streaming.Streams.windowedRates(Tables.events(s, d))
        .orderBy("window_start", "event_type"))(
      """SELECT CAST(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
        |            AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin),
    // hopping windows: each event belongs to exactly window/slide buckets
    // (start = 30-min bucket - i*30min, i in 0..1 — both always cover ts)
    Gate("q_hopping_rates", (s, d) =>
      graft.streaming.Streams.hoppingRates(Tables.events(s, d))
        .orderBy("window_start", "event_type"))(
      """SELECT CAST(time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
        |         - i * INTERVAL 30 MINUTE AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events, UNNEST(range(0, 2)) AS u(i)
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin),
    // live drift monitor twin: per-window value histogram in ONE
    // stateful agg, PSI vs the pinned reference histogram as a
    // stateless projection (worst bin = where it drifted)
    // live ingestion-health twin: per-hour kept rate under the quality
    // battery (every 4th doc's text replaced by a deterministic junk
    // burst that scores exactly 0 — the crawler-regression signal this
    // monitor exists to catch); ts synthesized as doc_id minutes
    // windowed-quality replay: same synthesized minutes-offset ts,
    // same junk replacement, the q_quality battery per doc, hour
    // buckets, 4-decimal quality totals
    Gate("q_windowed_quality", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        when(col("doc_id") % 4 === 0,
          lit("$$$ 4099 2077 !!! @@@ 88 99 ##"))
          .otherwise(col("text")).as("text"))
      graft.streaming.Streams.windowedQualityGate(docs, "ts", "text")
        .orderBy("window_start")
    })(
      """WITH d AS (SELECT
        |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN '$$$ 4099 2077 !!! @@@ 88 99 ##' ELSE text END
        |      AS line
        |  FROM documents),
        |q AS (SELECT ts,
        |    CAST(len(string_split(line, ' ')) AS INTEGER) AS n_tokens,
        |    length(replace(line, ' ', '')) * 1.0
        |      / greatest(len(string_split(line, ' ')), 1)
        |      AS mean_tok_len,
        |    len(list_filter(string_split(lower(line), ' '), x -> x IN
        |      ('the','a','of','and','is','in','to'))) * 1.0
        |      / greatest(len(string_split(line, ' ')), 1) AS stop_ratio,
        |    len(regexp_extract_all(line, '[[:punct:]]')) * 1.0
        |      / greatest(length(line), 1) AS punct_ratio,
        |    len(regexp_extract_all(line, '[0-9]')) * 1.0
        |      / greatest(length(line), 1) AS digit_ratio
        |  FROM d),
        |sc AS (SELECT ts,
        |    round(greatest(least(
        |      (CASE WHEN n_tokens BETWEEN 5 AND 1000
        |            THEN 0.4 ELSE 0.0 END)
        |      + (CASE WHEN mean_tok_len BETWEEN 3.0 AND 12.0
        |              THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
        |      - (CASE WHEN punct_ratio > 0.2 THEN 0.2 ELSE 0.0 END)
        |      - (CASE WHEN digit_ratio > 0.2 THEN 0.2 ELSE 0.0 END),
        |      1.0), 0.0), 6) AS quality
        |  FROM q)
        |SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP)
        |    AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS kept_rate,
        |  round(sum(quality), 4) AS quality_total
        |FROM sc GROUP BY 1 ORDER BY window_start""".stripMargin),
    // live dedup-rate twin: every 5th doc's text replaced by the same
    // boilerplate banner, so each hour window sees a deterministic
    // burst of within-window duplicate digests (the crawler-loop /
    // feed-replay alarm); ts synthesized as doc_id minutes
    // dup-rate replay: same synthesized minutes-offset ts, same banner
    // injection, per-(hour, digest) counts re-aggregated per hour
    Gate("q_windowed_dup_rate", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        when(col("doc_id") % 5 === 0,
          lit("breaking subscribe banner chrome"))
          .otherwise(col("text")).as("text"))
      graft.streaming.Streams.windowedDupRate(docs, "ts", "text")
        .orderBy("window_start")
    })(
      """WITH d AS (SELECT
        |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts,
        |    md5(CASE WHEN doc_id % 5 = 0
        |      THEN 'breaking subscribe banner chrome'
        |      ELSE COALESCE(text, '') END) AS dig
        |  FROM documents),
        |w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, dig,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM d GROUP BY 1, 2)
        |SELECT CAST(ws AS TIMESTAMP) AS window_start,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(c - 1) AS BIGINT) AS n_dup,
        |  round(CAST(sum(c - 1) AS DOUBLE) / sum(c), 6) AS dup_rate
        |FROM w GROUP BY 1 ORDER BY window_start""".stripMargin),
    // live frontier-health twin: per-hour language mix (fixed 6-label
    // domain, zeros included). Every 6th doc is replaced by a proven
    // French fixture sentence and every 6k+1th by a German one, so
    // each hour window carries a deterministic multilingual mix
    // lang-mix replay: same synthesized minutes-offset ts, same
    // fixture-sentence injections, the trigram langId chain per doc,
    // hour buckets crossed with the fixed 6-label domain (zeros kept)
    Gate("q_windowed_lang_mix", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        when(col("doc_id") % 6 === 0,
          lit("le train quitte la gare à neuf heures et arrive dans " +
            "la soirée"))
          .when(col("doc_id") % 6 === 1,
            lit("der zug verlässt den bahnhof um neun und kommt am " +
              "abend an"))
          .otherwise(col("text")).as("text"))
      graft.streaming.Streams.windowedLangMix(docs, "ts", "text")
        .orderBy("window_start", "lang")
    })(
      (s"""WITH d AS (SELECT
        |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts,
        |    CASE WHEN doc_id % 6 = 0
        |      THEN 'le train quitte la gare à neuf heures '
        |        || 'et arrive dans la soirée'
        |      WHEN doc_id % 6 = 1
        |      THEN 'der zug verlässt den bahnhof um neun '
        |        || 'und kommt am abend an'
        |      ELSE COALESCE(text, '') END AS text
        |  FROM documents),
        |${langScoreCtes("d", "ts")},
        |base AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |           pred_lang FROM lpr),
        |nw AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM base GROUP BY 1),
        |langs(lang) AS (VALUES ('en'), ('de'), ('es'), ('fr'), ('zh'),
        |      ('unknown')),
        |cnt AS (SELECT ws, pred_lang AS lang,
        |          CAST(count(*) AS BIGINT) AS c
        |        FROM base GROUP BY 1, 2)
        |SELECT CAST(nw.ws AS TIMESTAMP) AS window_start, langs.lang,
        |  COALESCE(cnt.c, 0) AS n_lang, nw.n_docs,
        |  round(CAST(COALESCE(cnt.c, 0) AS DOUBLE) / nw.n_docs, 6)
        |    AS share
        |FROM nw CROSS JOIN langs
        |LEFT JOIN cnt ON cnt.ws = nw.ws AND cnt.lang = langs.lang
        |ORDER BY 1, 2""".stripMargin)),
    // live decoder alarm: per-hour encoding-damage rate; the same
    // deterministic injections as q_encoding_report, so each hour
    // window carries a known damage mix
    // damage replay: same synthesized minutes-offset ts, same
    // suffix injections, per-hour conditional sums with per-kilochar
    // densities
    Gate("q_windowed_damage", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        when(col("doc_id") % 9 === 0,
          concat(coalesce(col("text"), lit("")), lit(" �� damaged")))
          .when(col("doc_id") % 9 === 1,
            concat(coalesce(col("text"), lit("")),
              lit(" \u0007\u0001 junk")))
          .otherwise(col("text")).as("text"))
      graft.streaming.Streams.windowedDamageRate(docs, "ts", "text")
        .orderBy("window_start")
    })(
      """WITH d AS (SELECT
        |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN COALESCE(text, '') || ' �� damaged'
        |      WHEN doc_id % 9 = 1
        |      THEN COALESCE(text, '') || ' ' || chr(7) || chr(1)
        |        || ' junk'
        |      ELSE COALESCE(text, '') END AS text
        |  FROM documents),
        |m AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS repl,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS ctrl
        |  FROM d)
        |SELECT CAST(ws AS TIMESTAMP) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN repl > 0 OR ctrl > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_damaged,
        |  round(CAST(sum(CASE WHEN repl > 0 OR ctrl > 0
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS damage_rate,
        |  round(CAST(sum(repl) AS DOUBLE) * 1000 / sum(nc), 6)
        |    AS repl_per_kchars,
        |  round(CAST(sum(ctrl) AS DOUBLE) * 1000 / sum(nc), 6)
        |    AS ctrl_per_kchars
        |FROM m GROUP BY 1 ORDER BY window_start""".stripMargin),
    // live truncation alarm: per-hour doc/token mix across fixed
    // dyadic token-length buckets; every 4th doc is clipped to its
    // first 10 tokens — the deterministic "fetcher started truncating"
    // burst the monitor exists to catch
    // length-mix replay: same synthesized minutes-offset ts, same
    // first-10-tokens clipping, dyadic bucket CASE, hour buckets
    // crossed with the fixed 4-bucket domain (zeros kept)
    Gate("q_windowed_length_mix", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        when(col("doc_id") % 4 === 0,
          concat_ws(" ", slice(split(coalesce(col("text"), lit("")),
            " "), 1, 10)))
          .otherwise(col("text")).as("text"))
      graft.streaming.Streams.windowedLengthMix(docs, "ts", "text")
        .orderBy("window_start", "bucket")
    })(
      """WITH d AS (SELECT
        |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN array_to_string(
        |        string_split(COALESCE(text, ''), ' ')[1:10], ' ')
        |      ELSE COALESCE(text, '') END AS text
        |  FROM documents),
        |tk AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM d),
        |bk AS (SELECT ws, toks,
        |    CASE WHEN toks < 64 THEN '1_lt64'
        |         WHEN toks < 256 THEN '2_lt256'
        |         WHEN toks < 1024 THEN '3_lt1024'
        |         ELSE '4_ge1024' END AS b
        |  FROM tk),
        |nw AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(toks) AS BIGINT) AS n_tokens
        |       FROM bk GROUP BY 1),
        |bl(bucket) AS (VALUES ('1_lt64'), ('2_lt256'), ('3_lt1024'),
        |      ('4_ge1024')),
        |cnt AS (SELECT ws, b, CAST(count(*) AS BIGINT) AS c,
        |          CAST(sum(toks) AS BIGINT) AS tt
        |        FROM bk GROUP BY 1, 2)
        |SELECT CAST(nw.ws AS TIMESTAMP) AS window_start, bl.bucket,
        |  CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_in_bucket,
        |  CAST(COALESCE(cnt.tt, 0) AS BIGINT) AS tokens_in_bucket,
        |  nw.n_docs, nw.n_tokens,
        |  round(CAST(COALESCE(cnt.c, 0) AS DOUBLE) / nw.n_docs, 6)
        |    AS doc_share,
        |  round(CAST(COALESCE(cnt.tt, 0) AS DOUBLE) / nw.n_tokens, 6)
        |    AS token_share
        |FROM nw CROSS JOIN bl
        |LEFT JOIN cnt ON cnt.ws = nw.ws AND cnt.b = bl.bucket
        |ORDER BY 1, 2""".stripMargin),
    // windowed-PSI replay: same bins, same pinned-order smoothed sums
    Gate("q_windowed_psi", (s, d) =>
      graft.streaming.Streams.windowedPsi(Tables.events(s, d), "ts",
        "value", psiRefBaseline, lo = 0.0, hi = 500.0)
        .orderBy("window_start"))(
      windowedPsiOracle(psiRefBaseline, 0.0, 500.0)),
    // batch twin of the stateful sessionizer (gaps-and-islands window
    // form) — hash-checks the session semantics the streaming operator
    // implements with flatMapGroupsWithState
    Gate("q_sessions", (s, d) => graft.streaming.Streams.sessionCounts(
      Tables.events(s, d), gapMs = 30000000L))(
      """WITH m AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(sum(nw) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM m)
        |SELECT user_id, session_idx,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),
  )

  /** The q_windowed_fertility oracle rides the unigram chain's encode
    * pass: per-word token counts joined to hour-bucketed word
    * occurrences (every stream word is a corpus word here, so the
    * stream op's OOV floor never fires — the monitor and the chain
    * agree bit-for-bit). */
  private def windowedFertilityOracle(rounds: Int): String = {
    val e = rounds + 1
    s"""${unigramChainSql(rounds, encodePass = true, emitWords = true)},
       |uns AS MATERIALIZED (
       |  SELECT b.wid AS w, CAST(count(*) AS BIGINT) AS n_sub
       |  FROM ubt$e b JOIN ue$e e ON e.wid = b.wid AND e.pos = b.pos
       |  WHERE b.pos > 0 GROUP BY b.wid),
       |wws AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    time_bucket(INTERVAL 1 HOUR,
       |      TIMESTAMP '2024-01-01 00:00:00' + to_minutes(d.doc_id))
       |      AS ws,
       |    t.w
       |  FROM documents d,
       |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+'))
       |         AS t(w)
       |  WHERE d.doc_id % 7 = 0),
       |pd AS (SELECT ws, doc_id, CAST(count(*) AS BIGINT) AS nw,
       |         CAST(sum(uns.n_sub) AS BIGINT) AS nt,
       |         CAST(sum(len(wws.w)) AS BIGINT) AS nc
       |       FROM wws JOIN uns ON uns.w = wws.w GROUP BY 1, 2)
       |SELECT CAST(ws AS TIMESTAMP) AS window_start,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(nt) AS BIGINT) AS n_subword_tokens,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  round(CAST(sum(nt) AS DOUBLE) / sum(nw), 6) AS fertility,
       |  round(CAST(sum(nc) AS DOUBLE) / sum(nt), 6) AS chars_per_token
       |FROM pd GROUP BY 1 ORDER BY window_start""".stripMargin
  }

  /** The q_windowed_psi reference histogram — a pinned decaying
    * distribution over the 10 value bins of [0, 500), shipped as a
    * literal exactly like a production monitor ships its training-time
    * reference. Shared verbatim by the Scala gate and the SQL oracle.
    */
  private val psiRefBaseline: Seq[Long] =
    Seq(30L, 25L, 20L, 15L, 10L, 8L, 6L, 4L, 2L, 1L)

  /** The q_windowed_psi oracle: hour buckets, per-bin conditional
    * sums in one aggregate, then the SAME smoothed p/q arithmetic with
    * the addition order pinned to ascending bins (the Scala reduce
    * order), CASE-chain worst-bin with ascending tiebreak.
    */
  private def windowedPsiOracle(baseline: Seq[Long], lo: Double,
                                hi: Double): String = {
    val bins = baseline.size
    val qTot = baseline.sum
    val sums = (0 until bins).map(i =>
      s"    CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS c$i").mkString(",\n|")
    def p(i: Int) = s"((c$i + 0.5) / (n + 0.5 * $bins))"
    def q(i: Int) = s"((${baseline(i)} + 0.5) / ($qTot + 0.5 * $bins))"
    def contrib(i: Int) =
      s"((${p(i)} - ${q(i)}) * ln(${p(i)} / ${q(i)}))"
    val psi = (0 until bins).map(contrib).mkString(" + ")
    val best = s"greatest(${(0 until bins).map(contrib).mkString(", ")})"
    val worst = (0 until bins).map(i =>
      s"WHEN ${contrib(i)} = best THEN $i").mkString(" ")
    s"""WITH w AS (SELECT
       |    CAST(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
       |      AS TIMESTAMP) AS window_start,
       |    least(greatest(CAST(floor((CAST(value AS DOUBLE) - $lo)
       |      / (($hi - $lo) / $bins)) AS BIGINT), 0), ${bins - 1})
       |      AS bin
       |  FROM events WHERE value IS NOT NULL),
       |g AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n,
       |$sums
       |  FROM w GROUP BY 1),
       |x AS (SELECT *,
       |    $psi AS psi_raw,
       |    $best AS best
       |  FROM g)
       |SELECT window_start, n,
       |  round(psi_raw, 6) + 0.0 AS psi,
       |  CAST(CASE $worst END AS INTEGER) AS worst_bin,
       |  round(best, 6) + 0.0 AS worst_contrib
       |FROM x ORDER BY window_start""".stripMargin
  }
}
