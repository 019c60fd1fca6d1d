package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Relational, Similarity, Text}
import Shared._

/** The gates whose plans call [[graft.ops.Text]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object TextGates {
  val all: Seq[Gate] = Seq(
    Gate("q_collocations", (s, d) =>
      Text.collocations(Tables.documents(s, d), "doc_id", "text",
        minCount = 5, topK = 20))(
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT t[i] AS w1, t[i+1] AS w2
        |       FROM toks, UNNEST(range(1, greatest(len(t), 2))) AS u(i)
        |       WHERE t[i+1] IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
        |n1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
        |n2 AS (SELECT w2, count(*) AS n2 FROM bg GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c2)
        |SELECT c2.w1, c2.w2, c2.n,
        |  round(ln(CAST(c2.n AS DOUBLE) * nn
        |           / (CAST(n1.n1 AS DOUBLE) * CAST(n2.n2 AS DOUBLE))), 6)
        |    AS pmi
        |FROM c2 JOIN n1 USING (w1) JOIN n2 USING (w2) CROSS JOIN tot
        |WHERE c2.n >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin),
    // corpus keywords: TextRank (3 PageRank rounds over the window-2
    // word co-occurrence graph, stopwords dropped, multiplicity-weighted)
    // TextRank replay: window-2 co-occurrence pairs (stopwords out),
    // mirrored multiplicity-weighted edges, the q_pagerank round
    // pattern over word keys
    Gate("q_textrank", (s, d) =>
      Text.textRank(Tables.documents(s, d), "doc_id", "text",
        windowSize = 2, rounds = 3, topK = 30))(
      """WITH dt AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+') AS arr
        |  FROM documents),
        |t AS MATERIALIZED (SELECT dt.doc_id AS id, g.i AS pos,
        |    arr[g.i] AS w
        |  FROM dt CROSS JOIN UNNEST(range(1, len(arr) + 1)) AS g(i)
        |  WHERE arr[g.i] NOT IN
        |    ('the', 'a', 'of', 'and', 'is', 'in', 'to')),
        |co AS MATERIALIZED (SELECT a.w AS src, b.w AS dst
        |  FROM t a JOIN t b ON b.id = a.id
        |    AND b.pos - a.pos BETWEEN 1 AND 2 AND a.w <> b.w),
        |e AS MATERIALIZED (SELECT src, dst FROM co
        |  UNION ALL SELECT dst, src FROM co),
        |n AS (SELECT DISTINCT src AS word FROM e),
        |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS od
        |       FROM e GROUP BY 1),
        |r0 AS (SELECT word, CAST(1.0 AS DOUBLE) AS rank FROM n),
        |r1 AS (SELECT n.word, round((1.0 - CAST(0.85 AS DOUBLE)) +
        |         CAST(0.85 AS DOUBLE) * coalesce(c.m, 0.0), 9) AS rank
        |       FROM n LEFT JOIN
        |         (SELECT e.dst, sum(r0.rank / od.od) AS m
        |          FROM e JOIN r0 ON r0.word = e.src
        |          JOIN od ON od.src = e.src GROUP BY 1) c
        |         ON c.dst = n.word),
        |r2 AS (SELECT n.word, round((1.0 - CAST(0.85 AS DOUBLE)) +
        |         CAST(0.85 AS DOUBLE) * coalesce(c.m, 0.0), 9) AS rank
        |       FROM n LEFT JOIN
        |         (SELECT e.dst, sum(r1.rank / od.od) AS m
        |          FROM e JOIN r1 ON r1.word = e.src
        |          JOIN od ON od.src = e.src GROUP BY 1) c
        |         ON c.dst = n.word),
        |r3 AS (SELECT n.word, round((1.0 - CAST(0.85 AS DOUBLE)) +
        |         CAST(0.85 AS DOUBLE) * coalesce(c.m, 0.0), 9) AS rank
        |       FROM n LEFT JOIN
        |         (SELECT e.dst, sum(r2.rank / od.od) AS m
        |          FROM e JOIN r2 ON r2.word = e.src
        |          JOIN od ON od.src = e.src GROUP BY 1) c
        |         ON c.dst = n.word)
        |SELECT r3.word, CAST(od.od AS BIGINT) AS degree,
        |  round(r3.rank, 6) AS rank
        |FROM r3 JOIN od ON od.src = r3.word
        |ORDER BY rank DESC, word LIMIT 30""".stripMargin),
    Gate("q_label_entropy", (s, d) =>
      Text.labelEntropy(Tables.documents(s, d), "source", "lang"))(
      """WITH c AS (SELECT source, lang, count(*) AS c
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1)
        |SELECT c.source, count(*) AS n_labels, max(t.n) AS n_rows,
        |  round(0.0 - sum((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |          * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))), 6)
        |    AS entropy
        |FROM c JOIN t USING (source)
        |GROUP BY c.source ORDER BY c.source""".stripMargin),
    Gate("q_lang_id", (s, d) =>
      Text.langId(Tables.documents(s, d), "doc_id", "text"))(
      s"""WITH ${langScoreCtes("documents", "doc_id")}
         |SELECT doc_id, s_en, s_de, s_es, s_fr, pred_lang,
         |  round(greatest(s_en, s_de, s_es, s_fr) * 1.0
         |        / greatest(length(tl) - 2, 1), 6) AS confidence
         |FROM lpr ORDER BY doc_id""".stripMargin),
    Gate("q_quality", (s, d) =>
      Text.qualityScore(Tables.documents(s, d), "doc_id", "text"))(
      """WITH b AS (SELECT doc_id, text,
        |  string_split(text, ' ') AS toks,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_m,
        |  length(replace(text, ' ', '')) * 1.0
        |    / greatest(len(string_split(text, ' ')), 1) AS mean_tok_len,
        |  len(list_filter(string_split(lower(text), ' '), x -> x IN
        |    ('the','a','of','and','is','in','to'))) * 1.0
        |    / greatest(len(string_split(text, ' ')), 1) AS stop_ratio,
        |  len(regexp_extract_all(text, '[[:punct:]]')) * 1.0
        |    / greatest(length(text), 1) AS punct_ratio,
        |  len(regexp_extract_all(text, '[0-9]')) * 1.0
        |    / greatest(length(text), 1) AS digit_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_chars_m,
        |  round(mean_tok_len, 6) AS mean_tok_len,
        |  round(stop_ratio, 6) AS stop_ratio,
        |  round(punct_ratio, 6) AS punct_ratio,
        |  round(digit_ratio, 6) AS digit_ratio,
        |  round(greatest(least(
        |    (CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)
        |    + (CASE WHEN mean_tok_len BETWEEN 3.0 AND 12.0
        |            THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
        |    - (CASE WHEN punct_ratio > 0.2 THEN 0.2 ELSE 0.0 END)
        |    - (CASE WHEN digit_ratio > 0.2 THEN 0.2 ELSE 0.0 END),
        |    1.0), 0.0), 6) AS quality
        |FROM b ORDER BY doc_id""".stripMargin),
    // which rule earns its place: per-rule fail / unique-fail /
    // ordered-marginal / survivor counts for the quality battery —
    // the table a filter pipeline reads before reordering or retiring
    // a rule
    Gate("q_filter_attribution", (s, d) =>
      Text.filterAttribution(Tables.documents(s, d), "doc_id", "text"))(
      filterAttributionOracle),
    // mojibake audit: U+FFFD replacement chars and C0 control leakage
    // per source; the synthetic corpus is clean, so every 9th doc gets
    // a deterministic replacement-char suffix and every 9k+1th a
    // control-char suffix (mirrored in the oracle) — the gate counts
    // real damage, not a wall of zeros
    // encoding replay: identical suffix injections (chr(7)/chr(1) and
    // the literal replacement chars), regexp strip-counts, per-source
    // rollup with per-kilochar densities
    Gate("q_encoding_report", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(col("source"),
        col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(coalesce(col("text"), lit("")), lit(" �� damaged")))
          .when(col("doc_id") % 9 === 1,
            concat(coalesce(col("text"), lit("")),
              lit(" \u0007\u0001 junk")))
          .otherwise(col("text")).as("text"))
      Text.encodingReport(docs, "doc_id", "text", "source")
    })(
      """WITH d AS (SELECT source,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN COALESCE(text, '') || ' �� damaged'
        |      WHEN doc_id % 9 = 1
        |      THEN COALESCE(text, '') || ' ' || chr(7) || chr(1)
        |        || ' junk'
        |      ELSE COALESCE(text, '') END AS text
        |  FROM documents),
        |m AS (SELECT source, CAST(length(text) AS BIGINT) AS nc,
        |    CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS repl,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS ctrl
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repl_docs,
        |  CAST(sum(CASE WHEN ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ctrl_docs,
        |  CAST(sum(CASE WHEN repl > 0 OR ctrl > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_damaged,
        |  round(CAST(sum(CASE WHEN repl > 0 OR ctrl > 0
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS damage_rate,
        |  round(CAST(sum(repl) AS DOUBLE) * 1000 / sum(nc), 6)
        |    AS repl_per_kchars,
        |  round(CAST(sum(ctrl) AS DOUBLE) * 1000 / sum(nc), 6)
        |    AS ctrl_per_kchars
        |FROM m GROUP BY source ORDER BY source""".stripMargin),
    Gate("q_token_counts", (s, d) =>
      Text.tokenCounts(Tables.documents(s, d), "doc_id", "text"))(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens,
        |  round(length(text) * 1.0
        |    / greatest(len(regexp_extract_all(text,
        |        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 1), 6)
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q_fingerprint", (s, d) =>
      Text.fingerprints(Tables.documents(s, d), "doc_id", "text", n = 3))(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |roll AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(t, x ->
        |      CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1048576)),
        |    (a, b) -> (a * 131 + b) % 1099511627776) AS rolling_fp
        |  FROM toks),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |       FROM toks, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i)),
        |ms AS (SELECT doc_id,
        |         min(CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))
        |           AS min_shingle_fp
        |       FROM sh GROUP BY doc_id)
        |SELECT roll.doc_id, roll.rolling_fp, ms.min_shingle_fp
        |FROM roll JOIN ms ON roll.doc_id = ms.doc_id
        |ORDER BY roll.doc_id""".stripMargin),
    Gate("q_term_freq", (s, d) =>
      Text.termFrequencies(Tables.documents(s, d), "doc_id", "text", 20))(
      """SELECT term, count(*) AS n_total,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |GROUP BY term
        |ORDER BY n_total DESC, term LIMIT 20""".stripMargin),
    // PII redaction: identical RE2-safe regexes, g flag on the DuckDB side
    Gate("q_redact", (s, d) =>
      Text.redact(Tables.documents(s, d), "doc_id", "text"))(
      """WITH e AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS after_email
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(after_email, '[0-9]{4,}')) AS INTEGER)
        |    AS n_redactions,
        |  regexp_replace(after_email, '[0-9]{4,}', '<NUM>', 'g') AS redacted
        |FROM e ORDER BY doc_id""".stripMargin),
    // corpus-hygiene rollup: per-source PII density (emails + long
    // digit runs per 1k chars) — where does the scrub pass pay? The
    // synthetic corpus carries no PII, so every 3rd doc gets a
    // deterministic injected contact line (mirrored in the oracle) —
    // the gate counts real hits, not a wall of zeros
    // PII-density replay: identical injected contact lines, identical
    // regexes, digit runs on the email-redacted text, source-keyed sums
    Gate("q_pii_report", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@mail.example.com ref "),
            (col("doc_id") * 7919 + 100000).cast("string")))
          .otherwise(col("text")))
      Text.piiReport(docs, "doc_id", "text", "source")
    })(
      """WITH aug AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user'
        |        || CAST(doc_id AS VARCHAR) || '@mail.example.com ref '
        |        || CAST(doc_id * 7919 + 100000 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents),
        |d AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      AS BIGINT) AS e,
        |    CAST(len(regexp_extract_all(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'), '[0-9]{4,}')) AS BIGINT) AS nr,
        |    CAST(length(text) AS BIGINT) AS c
        |  FROM aug)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN e + nr > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_pii,
        |  CAST(sum(e) AS BIGINT) AS n_emails,
        |  CAST(sum(nr) AS BIGINT) AS n_digit_runs,
        |  round(CAST(sum(e) + sum(nr) AS DOUBLE) * 1000.0
        |    / CAST(sum(c) AS DOUBLE), 6) AS pii_per_kchar
        |FROM d GROUP BY source ORDER BY source""".stripMargin),
    // trigram stupid-backoff LM scoring: counts from the train split
    // (doc_id % 7 != 0), every 7th doc scored against them — unseen
    // eval trigrams exercise the backoff chain in the gate itself; the
    // per-doc backoff depth (tri/bi/uni hits) is published
    // trigram stupid-backoff replay: the three train count tables, the
    // same LEFT-join chain and CASE ladder (exact-count quotients,
    // dyadic lambda), per-doc ln sum rounded 6
    Gate("q_lm_trigram", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Text.lmTrigramScore(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    })(
      (lmTrigramChainSql + "\n" +
      """SELECT ev.doc_id, pd.n_trigrams, pd.n_tri_hits, pd.n_bi_hits,
        |  pd.n_uni_hits,
        |  round(pd.lp / pd.n_trigrams, 6) AS avg_logscore,
        |  round(exp(-(pd.lp / pd.n_trigrams)), 6) AS ppl
        |FROM ev LEFT JOIN pd USING (doc_id)
        |ORDER BY ev.doc_id""".stripMargin)),
    // 5-gram stupid backoff — the order CCNet's actual KenLM filter
    // runs at: same train/eval split, four backoff rungs (dyadic
    // lambda powers), published depth counters n_5..n_1
    // 5-gram backoff replay: the shared 5-gram chain's per-doc final
    Gate("q_lm_5gram", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Text.lm5gramScore(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    })(
      (lm5gramChainSql + "\n" +
      """SELECT ev.doc_id, pd.n_5grams, pd.n_5_hits, pd.n_4_hits,
        |  pd.n_3_hits, pd.n_2_hits, pd.n_1_hits,
        |  round(pd.lp / pd.n_5grams, 6) AS avg_logscore,
        |  round(exp(-(pd.lp / pd.n_5grams)), 6) AS ppl
        |FROM ev LEFT JOIN pd USING (doc_id)
        |ORDER BY ev.doc_id""".stripMargin)),
    // the 5-gram LM as a PUBLISHED artifact (the KenLM production
    // shape): train split -> long-format count-table index, eval split
    // scored against it with no retraining, rolled up per source —
    // exact integer rung hits, round-6 share quotients, order-free
    // min/max ppl
    // published-LM per-source fluency report: the same train/score
    // chain (the index path is bit-identical by construction — the
    // PipelineOpsSpec A/B), rolled up per source with exact integer
    // rung sums, round-6 share quotients, order-free min/max ppl
    Gate("q_lm_published", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      // consumes the per-JVM published parquet index (r17 — this gate's
      // own semantics: the LM is a static artifact, scored with no
      // retraining; the index BUILD stays measured live in q_lm_5gram)
      Text.lmSourceReport(docs.filter(col("doc_id") % 7 === 0),
        lmIndexModel(s, d), "doc_id", "text", "source")
    })(
      (lm5gramChainSql + "\n" +
      """SELECT source, n_docs, n_scored, n_5grams, n_5_hits, n_4_hits,
        |  n_3_hits, n_2_hits, n_1_hits, min_ppl, max_ppl,
        |  CASE WHEN n_5grams > 0 THEN
        |    round(CAST(n_5_hits + n_4_hits AS DOUBLE) / n_5grams, 6)
        |  END AS share_deep,
        |  CASE WHEN n_5grams > 0 THEN
        |    round(CAST(n_1_hits AS DOUBLE) / n_5grams, 6)
        |  END AS share_base
        |FROM (
        |  SELECT ev.source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN pd.n_5grams IS NOT NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_scored,
        |    CAST(coalesce(sum(pd.n_5grams), 0) AS BIGINT) AS n_5grams,
        |    CAST(coalesce(sum(pd.n_5_hits), 0) AS BIGINT) AS n_5_hits,
        |    CAST(coalesce(sum(pd.n_4_hits), 0) AS BIGINT) AS n_4_hits,
        |    CAST(coalesce(sum(pd.n_3_hits), 0) AS BIGINT) AS n_3_hits,
        |    CAST(coalesce(sum(pd.n_2_hits), 0) AS BIGINT) AS n_2_hits,
        |    CAST(coalesce(sum(pd.n_1_hits), 0) AS BIGINT) AS n_1_hits,
        |    min(round(exp(-(pd.lp / pd.n_5grams)), 6)) AS min_ppl,
        |    max(round(exp(-(pd.lp / pd.n_5grams)), 6)) AS max_ppl
        |  FROM ev LEFT JOIN pd USING (doc_id) GROUP BY 1) t
        |ORDER BY source""".stripMargin)),
    // the LM index LIFECYCLE: yesterday's index (train docs with
    // doc_id % 7 ∉ {0, 6}) absorbs today's batch (% 7 == 6) via the
    // additive count merge — never re-tokenizing yesterday's corpus —
    // and the eval split scores against the MERGED artifact. The
    // oracle replays the FULL-train (% 7 != 0) rebuild, so the gate
    // hash-greens ONLY if merge(old, batch) ≡ rebuild(full) exactly
    // (the mergeAggStates identity, cross-engine)
    // index-merge lifecycle: the oracle is the FULL-train (% 7 != 0)
    // rebuild — the q_lm_published chain VERBATIM — while the Spark
    // side merges yesterday's (% 7 ∉ {0,6}) index with today's
    // (% 7 == 6) batch, so a hash match IS the merge ≡ rebuild proof
    // cross-engine
    Gate("q_lm_index_merge", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val old = Text.lmCountIndex(
        docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 6),
        "text")
      val merged = Text.lmCountIndexMerge(old,
        docs.filter(col("doc_id") % 7 === 6), "text")
      Text.lmSourceReport(docs.filter(col("doc_id") % 7 === 0), merged,
        "doc_id", "text", "source")
    })(
      (lm5gramChainSql + "\n" +
      """SELECT source, n_docs, n_scored, n_5grams, n_5_hits, n_4_hits,
        |  n_3_hits, n_2_hits, n_1_hits, min_ppl, max_ppl,
        |  CASE WHEN n_5grams > 0 THEN
        |    round(CAST(n_5_hits + n_4_hits AS DOUBLE) / n_5grams, 6)
        |  END AS share_deep,
        |  CASE WHEN n_5grams > 0 THEN
        |    round(CAST(n_1_hits AS DOUBLE) / n_5grams, 6)
        |  END AS share_base
        |FROM (
        |  SELECT ev.source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN pd.n_5grams IS NOT NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_scored,
        |    CAST(coalesce(sum(pd.n_5grams), 0) AS BIGINT) AS n_5grams,
        |    CAST(coalesce(sum(pd.n_5_hits), 0) AS BIGINT) AS n_5_hits,
        |    CAST(coalesce(sum(pd.n_4_hits), 0) AS BIGINT) AS n_4_hits,
        |    CAST(coalesce(sum(pd.n_3_hits), 0) AS BIGINT) AS n_3_hits,
        |    CAST(coalesce(sum(pd.n_2_hits), 0) AS BIGINT) AS n_2_hits,
        |    CAST(coalesce(sum(pd.n_1_hits), 0) AS BIGINT) AS n_1_hits,
        |    min(round(exp(-(pd.lp / pd.n_5grams)), 6)) AS min_ppl,
        |    max(round(exp(-(pd.lp / pd.n_5grams)), 6)) AS max_ppl
        |  FROM ev LEFT JOIN pd USING (doc_id) GROUP BY 1) t
        |ORDER BY source""".stripMargin)),
    // CCNet-style head/middle/tail perplexity bucketing of the eval
    // split at the global 1/3 and 2/3 percentiles, per-source shares —
    // the "keep head+middle, audit tail" curation cut
    // CCNet bucket replay: the same trigram chain, global 1/3 and 2/3
    // percentile thresholds over the round-6 ppl, CASE buckets,
    // per-source shares with order-free min/max
    Gate("q_ccnet_buckets", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      // scores against the per-JVM published LM index (r17): the
      // order-3 path reads the n <= 3 slices, row-identical to the
      // inline order-3 rollup (spec-pinned); the trigram build chain
      // stays measured live in q_lm_trigram
      Text.perplexityBuckets(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        "source", index = Some(lmIndexModel(s, d)))
    })(
      (lmTrigramChainSql + ",\n" +
      """ppl AS (SELECT ev.doc_id, ev.source,
        |    round(exp(-(pd.lp / pd.n_trigrams)), 6) AS ppl
        |  FROM ev LEFT JOIN pd USING (doc_id)),
        |nnr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppl
        |        WHERE ppl IS NOT NULL),
        |cume AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT ppl AS v, CAST(count(*) AS BIGINT) AS c
        |        FROM ppl WHERE ppl IS NOT NULL GROUP BY 1)),
        |thr AS (SELECT
        |    min(CASE WHEN cum * 3 >= nnr.n THEN v END) AS t1,
        |    min(CASE WHEN cum * 3 >= nnr.n * 2 THEN v END) AS t2
        |  FROM cume CROSS JOIN nnr),
        |bkt AS (SELECT doc_id, source, ppl,
        |    CASE WHEN ppl IS NULL THEN 'unscored'
        |         WHEN ppl <= thr.t1 THEN 'head'
        |         WHEN ppl <= thr.t2 THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM ppl CROSS JOIN thr),
        |tots AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |  FROM bkt GROUP BY 1)
        |SELECT bkt.source, bkt.bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(count(*) AS DOUBLE) / any_value(tots.n_src), 6)
        |    AS share,
        |  round(min(bkt.ppl), 6) AS min_ppl,
        |  round(max(bkt.ppl), 6) AS max_ppl
        |FROM bkt JOIN tots USING (source) GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),
    // the same bucketing re-pointed at the 5-gram LM (order = 5): the
    // production CCNet configuration — exact-integer ECDF thirds over
    // the 5-gram score perplexities
    // CCNet bucket replay over the 5-gram chain: identical
    // exact-integer ECDF thirds, CASE buckets, per-source shares
    Gate("q_ccnet_buckets5", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      // scores against the per-JVM published LM index (r17); the
      // 5-gram build chain stays measured live in q_lm_5gram
      Text.perplexityBuckets(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        "source", order = 5, index = Some(lmIndexModel(s, d)))
    })(
      (lm5gramChainSql + ",\n" +
      """ppl AS (SELECT ev.doc_id, ev.source,
        |    round(exp(-(pd.lp / pd.n_5grams)), 6) AS ppl
        |  FROM ev LEFT JOIN pd USING (doc_id)),
        |nnr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppl
        |        WHERE ppl IS NOT NULL),
        |cume AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT ppl AS v, CAST(count(*) AS BIGINT) AS c
        |        FROM ppl WHERE ppl IS NOT NULL GROUP BY 1)),
        |thr AS (SELECT
        |    min(CASE WHEN cum * 3 >= nnr.n THEN v END) AS t1,
        |    min(CASE WHEN cum * 3 >= nnr.n * 2 THEN v END) AS t2
        |  FROM cume CROSS JOIN nnr),
        |bkt AS (SELECT doc_id, source, ppl,
        |    CASE WHEN ppl IS NULL THEN 'unscored'
        |         WHEN ppl <= thr.t1 THEN 'head'
        |         WHEN ppl <= thr.t2 THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM ppl CROSS JOIN thr),
        |tots AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |  FROM bkt GROUP BY 1)
        |SELECT bkt.source, bkt.bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(count(*) AS DOUBLE) / any_value(tots.n_src), 6)
        |    AS share,
        |  round(min(bkt.ppl), 6) AS min_ppl,
        |  round(max(bkt.ppl), 6) AS max_ppl
        |FROM bkt JOIN tots USING (source) GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),
    // DSIR importance resampling: hashed-trigram log-ratio weights
    // (target = the quality fixture's clean rows) + md5-derived
    // Gumbel-top-k draw — sampling proportional to exp(weight)
    // without replacement, fully deterministic
    // DSIR replay: target/raw hashed-trigram bucket counts, micro
    // log-ratio weights over ALL buckets, exact-long doc sums, the
    // md5-Gumbel key, (key DESC, id) top-k
    Gate("q_dsir", (s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val target = Text.qualityFixture.toDF("id", "y", "text")
        .filter(col("y") === 1)
        .select(col("id").as("doc_id"), col("text"))
      graft.ops.Curation.dsirSelect(target, Tables.documents(s, d),
        "doc_id", "text", k = 50)
    })(
      (dsirChainSql +
      """
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_grams,
        |  ws AS w_micro_sum, round(gum, 6) AS gumbel,
        |  round(key, 6) AS sample_key
        |FROM rk WHERE rank <= 50 ORDER BY rank""".stripMargin)),
    // what did importance resampling CHANGE: the q_dsir selection
    // rolled up per source against the corpus base rates —
    // delta_share > 0 means DSIR up-weights the source
    // DSIR mix replay: the same chain's top-k selection rolled up per
    // source against the corpus base rates — selected vs corpus share
    Gate("q_dsir_mix", (s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val target = Text.qualityFixture.toDF("id", "y", "text")
        .filter(col("y") === 1)
        .select(col("id").as("doc_id"), col("text"))
      graft.ops.Curation.dsirMixReport(target, Tables.documents(s, d),
        "doc_id", "text", "source", k = 50)
    })(
      (dsirChainSql +
      """,
        |sel AS (SELECT doc_id FROM rk WHERE rank <= 50),
        |nsr AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sel),
        |ncr AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM documents),
        |mix AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_corpus,
        |    CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_selected
        |  FROM documents d LEFT JOIN sel ON sel.doc_id = d.doc_id
        |  GROUP BY 1)
        |SELECT source, n_corpus, n_selected,
        |  round(CAST(n_corpus AS DOUBLE) / ncr.nc, 6) AS corpus_share,
        |  round(CAST(n_selected AS DOUBLE) / nsr.ns, 6)
        |    AS selected_share,
        |  round(CAST(n_selected AS DOUBLE) / nsr.ns
        |    - CAST(n_corpus AS DOUBLE) / ncr.nc, 6) AS delta_share
        |FROM mix CROSS JOIN nsr CROSS JOIN ncr
        |ORDER BY source""".stripMargin)),
    // what did steering toward the target COST in diversity: token and
    // 3-shingle type-token ratios for the corpus, the DSIR selection,
    // and a size-matched md5-hash baseline (the control that removes
    // the small-sample TTR bias from the comparison)
    // diversity replay: the same chain's top-k, the md5-ordered
    // size-matched baseline, and token/3-shingle distinct counts per
    // scope (shingle slice = the q_fingerprint sh-CTE convention)
    Gate("q_selection_diversity", (s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val target = Text.qualityFixture.toDF("id", "y", "text")
        .filter(col("y") === 1)
        .select(col("id").as("doc_id"), col("text"))
      graft.ops.Curation.selectionDiversityReport(target,
        Tables.documents(s, d), "doc_id", "text", k = 50)
    })(
      (dsirChainSql +
      """,
        |sel AS (SELECT doc_id FROM rk WHERE rank <= 50),
        |bas AS (SELECT doc_id FROM documents
        |        ORDER BY CAST('0x' || substr(md5(CAST(doc_id
        |          AS VARCHAR)), 1, 15) AS BIGINT), doc_id
        |        LIMIT 50),
        |mem AS (SELECT doc_id, '1_corpus' AS scope FROM documents
        |        UNION ALL
        |        SELECT doc_id, '2_dsir_selected' FROM sel
        |        UNION ALL
        |        SELECT doc_id, '3_hash_baseline' FROM bas),
        |wt AS (SELECT mem.scope,
        |         string_split(lower(d.text), ' ') AS t
        |       FROM mem JOIN documents d ON d.doc_id = mem.doc_id),
        |tk AS (SELECT scope, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
        |       FROM wt, UNNEST(t) AS u(tok) GROUP BY 1),
        |shr AS (SELECT scope, array_to_string(t[i.i:i.i + 2], ' ') AS s
        |        FROM wt CROSS JOIN
        |          UNNEST(range(1, greatest(len(t) - 1, 2))) AS i(i)),
        |sh AS (SELECT scope, CAST(count(*) AS BIGINT) AS n_shingles,
        |         CAST(count(DISTINCT s) AS BIGINT) AS distinct_shingles
        |       FROM shr GROUP BY 1),
        |nd AS (SELECT scope, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM mem GROUP BY 1)
        |SELECT nd.scope, n_docs, n_tokens, distinct_tokens,
        |  round(CAST(distinct_tokens AS DOUBLE) / n_tokens, 6) AS ttr,
        |  n_shingles, distinct_shingles,
        |  round(CAST(distinct_shingles AS DOUBLE) / n_shingles, 6)
        |    AS shingle_ttr
        |FROM nd JOIN tk ON tk.scope = nd.scope
        |JOIN sh ON sh.scope = nd.scope
        |ORDER BY 1""".stripMargin)),
    // line-level quality rewrite (q_line_dedup's heuristic sibling):
    // every doc gets an injected junk ad line, every 3rd doc a second
    // one prepended; the op must strip exactly the junk (digit/punct
    // noise scores ~0 on the quality battery, prose ~1) and keep the
    // cleaned remainder with accounting
    // line-quality-rewrite replay: identical injected junk lines, the
    // q_quality battery per line, keep norm-empty or quality >= 0.5,
    // position-ordered string_agg re-assembly
    Gate("q_line_quality", (s, d) => {
      import org.apache.spark.sql.functions._
      val lined = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("@@@ 999999 4077 ###\n")).otherwise(lit("")),
          col("text"),
          lit("\n$$$ 4099 2077 buy !!!")).as("text"))
      Text.lineQualityRewrite(lined, "doc_id", "text")
    })(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '@@@ 999999 4077 ###' || chr(10) ELSE '' END
        |    || COALESCE(text, '') || chr(10)
        |    || '$$$ 4099 2077 buy !!!' AS t
        |  FROM documents),
        |sp AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, i.i AS pos, ls[i.i + 1] AS line,
        |        trim(regexp_replace(lower(ls[i.i + 1]), '\s+', ' ',
        |          'g')) AS norm
        |      FROM sp CROSS JOIN UNNEST(range(len(ls))) AS i(i)),
        |q AS (SELECT doc_id, pos, line, norm,
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
        |  FROM l),
        |sc AS (SELECT doc_id, pos, line, norm,
        |    round(greatest(least(
        |      (CASE WHEN n_tokens BETWEEN 5 AND 1000
        |            THEN 0.4 ELSE 0.0 END)
        |      + (CASE WHEN mean_tok_len BETWEEN 3.0 AND 12.0
        |              THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
        |      - (CASE WHEN punct_ratio > 0.2 THEN 0.2 ELSE 0.0 END)
        |      - (CASE WHEN digit_ratio > 0.2 THEN 0.2 ELSE 0.0 END),
        |      1.0), 0.0), 6) AS quality
        |  FROM q),
        |kept AS (SELECT doc_id, pos, line FROM sc
        |         WHERE norm = '' OR quality >= 0.5),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(line, chr(10) ORDER BY pos) AS clean
        |        FROM kept GROUP BY doc_id),
        |nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        |       FROM l GROUP BY doc_id)
        |SELECT d.doc_id, nl.n_lines,
        |  COALESCE(reb.n_kept, 0) AS n_lines_kept,
        |  nl.n_lines - COALESCE(reb.n_kept, 0) AS n_lines_removed,
        |  CAST(len(d.t) - len(COALESCE(reb.clean, '')) AS BIGINT)
        |    AS n_chars_removed,
        |  COALESCE(reb.clean, '') AS text_clean
        |FROM d JOIN nl USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // which terms characterize src0 against src1: Monroe log-odds
    // with an informative Dirichlet prior (|z| > 1.96 = a term that
    // genuinely distinguishes the slices)
    // keyness replay: exact side counts + totals, one per-row float
    // expression, rounded-z total order
    Gate("q_keyness", (s, d) =>
      Text.keyness(Tables.documents(s, d), "doc_id", "text", "source",
        "src0", "src1"))(
      """WITH tk AS (SELECT source = 'src0' AS a,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (SELECT term,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM tk GROUP BY 1),
        |t AS (SELECT
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM tk),
        |x AS (SELECT term, n_a, n_b,
        |    CAST(100 AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
        |      / CAST(na + nb AS DOUBLE) AS aw,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        |  FROM c CROSS JOIN t),
        |y AS (SELECT term, n_a, n_b,
        |    ln((n_a + aw) / (nad + CAST(100 AS DOUBLE) - n_a - aw))
        |      - ln((n_b + aw) / (nbd + CAST(100 AS DOUBLE) - n_b - aw))
        |      AS d,
        |    1.0 / (n_a + aw) + 1.0 / (n_b + aw) AS v
        |  FROM x)
        |SELECT term, n_a, n_b,
        |  round(d, 6) + 0.0 AS delta_logodds,
        |  round(d / sqrt(v), 6) + 0.0 AS z
        |FROM y ORDER BY z DESC, term""".stripMargin),
    // heavy-tail diagnostic: coarse Hill plot of the item-purchase
    // frequency tail at k in {10,20,50} — alpha stable across k = a
    // real power law (q_zipf's maximum-likelihood companion; the doc
    // corpus's closed 31-word vocabulary can't carry a tail, the
    // ~2000-item purchase domain can)
    // Hill replay: one term count, rank window, pinned ln folds
    Gate("q_hill_tail", (s, d) => {
      import org.apache.spark.sql.functions._
      Text.hillFromCounts(Tables.lineitem(s, d)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_bought")),
        "l_partkey", "n_bought")
    })(
      hillOracle(Seq(10, 20, 50))),
    // Heaps-law vocabulary growth V ~ K*n^beta over md5-shard unions
    // (no global doc ordering — the scale-safe growth curve); the
    // unit is TRIGRAM SHINGLES, the open recombination vocabulary —
    // the corpus's closed unigram list saturates immediately
    // Heaps replay: portable-hash shards, min-shard vocab, pinned fit
    Gate("q_heaps", (s, d) =>
      Text.heapsLaw(Tables.documents(s, d), "doc_id", "text",
        shards = 16, tokenizer = Text.shingleTokenizer(3)))(
      heapsOracle(16)),
    // Gopher repetition filters: duplicate n-grams + top-token share
    Gate("q_repetition", (s, d) =>
      Text.repetitionStats(Tables.documents(s, d), "doc_id", "text", n = 3))(
      """WITH g AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |grams AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |          FROM g, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i)),
        |gs AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
        |         CAST(count(DISTINCT s) AS INTEGER) AS n_distinct
        |       FROM grams GROUP BY doc_id),
        |tc AS (SELECT doc_id, tok, count(*) AS c
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents) GROUP BY 1, 2),
        |ts AS (SELECT doc_id, max(c) AS max_tok,
        |         CAST(sum(c) AS BIGINT) AS n_toks
        |       FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_distinct,
        |  round(1.0 - n_distinct * 1.0 / n_grams, 6) AS dup_ngram_ratio,
        |  round(max_tok * 1.0 / n_toks, 6) AS top_token_ratio
        |FROM gs JOIN ts USING (doc_id) ORDER BY doc_id""".stripMargin),
    // context-window chunking: 32-token windows overlapping by 8
    // overlapping token-window chunking (32-token windows, stride 24)
    Gate("q_chunk", (s, d) =>
      Text.chunk(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 32, overlap = 8))(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents)
        |SELECT doc_id, CAST(s AS INTEGER) AS chunk_start,
        |  array_to_string(t[s+1 : s+32], ' ') AS chunk_text,
        |  CAST(least(32, len(t) - s) AS BIGINT) AS n_tokens
        |FROM toks, UNNEST(range(0, greatest(len(t) - 8, 1), 24)) AS u(s)
        |ORDER BY doc_id, chunk_start""".stripMargin),
    // same chunker budgeted in sub-word units (the pluggable-tokenizer
    // seam). The synthetic corpus is pure space-joined words — sub-word ≡
    // whitespace on it — so both sub-word gates append a punctuated
    // suffix (" #<id>.") first: the unit difference becomes real (+2
    // tokens/doc) and the oracle replays the same derivation.
    // sub-word-budgeted chunking: same plan, tokens via regexp_extract_all
    Gate("q_chunk_subword", (s, d) => {
      import org.apache.spark.sql.functions._
      Text.chunk(Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" #"), col("doc_id").cast("string"),
          lit(".")).as("text")),
        "doc_id", "text", chunkTokens = 48, overlap = 8,
        tokenizer = Text.subwordTokenizer)
    })(
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(
        |      text || ' #' || CAST(doc_id AS VARCHAR) || '.',
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
        |  FROM documents)
        |SELECT doc_id, CAST(s AS INTEGER) AS chunk_start,
        |  array_to_string(t[s+1 : s+48], ' ') AS chunk_text,
        |  CAST(least(48, len(t) - s) AS BIGINT) AS n_tokens
        |FROM toks, UNNEST(range(0, greatest(len(t) - 8, 1), 40)) AS u(s)
        |ORDER BY doc_id, chunk_start""".stripMargin),
    Gate("q_tfidf", (s, d) =>
      Text.tfidf(Tables.documents(s, d), "doc_id", "text", topK = 3))(
      """WITH tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
        |        GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        round(tf * ln(nd * 1.0 / df), 6) AS tfidf
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |      FROM s)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df, tfidf
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    // BM25 ranked retrieval: Okapi weights for a fixed 3-term query,
    // global top-15 (postings filtered before the shuffle)
    // BM25: arithmetic order mirrors Text.bm25 exactly; k1+1 and 1-b are
    // spelled as the same double ops (1.2 is inexact in binary — never
    // pre-fold it into a 2.2 literal, the nearest doubles can differ)
    Gate("q_bm25", (s, d) =>
      Text.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("hash", "join", "vector"), topK = 15))(
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM t GROUP BY 1),
        |sc AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl
        |       FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM t WHERE term IN ('hash', 'join', 'vector')
        |       GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |        FROM tf GROUP BY 1),
        |idf AS (SELECT term,
        |          ln((nd - df + 0.5) / (df + 0.5) + 1.0) AS idf
        |        FROM dfq CROSS JOIN sc),
        |s AS (SELECT tf.doc_id,
        |        idf.idf * tf.tf * (CAST(1.2 AS DOUBLE) + 1.0) /
        |          (tf.tf + CAST(1.2 AS DOUBLE) *
        |            ((1.0 - 0.75) + 0.75 * dl.dl / sc.avgdl)) AS s
        |      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
        |      CROSS JOIN sc)
        |SELECT doc_id, round(sum(s), 6) AS score,
        |  CAST(count(*) AS INTEGER) AS n_terms_hit
        |FROM s GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15""".stripMargin),
    // conjunctive inverted-index probe: docs containing ALL three terms,
    // ranked by total term frequency
    Gate("q_keyword_search", (s, d) =>
      Text.keywordSearch(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "window", "merge"), topK = 20))(
      """SELECT doc_id, CAST(count(*) AS BIGINT) AS total_tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |WHERE term IN ('spark', 'window', 'merge')
        |GROUP BY 1 HAVING count(DISTINCT term) = 3
        |ORDER BY total_tf DESC, doc_id LIMIT 20""".stripMargin),
    // hybrid search: RRF fusion of the conjunctive keyword ranking and
    // the embedding cosine top-k (documents and embeddings share the
    // 0..n id space) — rank-based, so the two score scales never need
    // calibrating; n_lists flags "found by both retrievers"
    // RRF replay: the keyword top-20 ranked, the cosine top-20 of
    // query vec 7 (q_cosine_topk spelling), full-outer fused with the
    // fixed-order 1/(60+r) sum; CAST(1 AS DOUBLE) keeps the division
    // in double (a bare 1.0 is DECIMAL in DuckDB)
    Gate("q_hybrid_search", (s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val kw = Text.keywordSearch(Tables.documents(s, d), "doc_id",
        "text", Seq("spark", "window", "merge"), topK = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("total_tf").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val ev = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") === 7), "vec_id", "embedding", k = 20)
        .select(col("cand_id").as("doc_id"), col("rk").as("rank"))
      Relational.rrfFuse(Seq(kw, ev), "doc_id", kf = 60, topK = 20)
    })(
      """WITH kw AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY total_tf DESC, doc_id) AS r0
        |  FROM (
        |    SELECT doc_id, CAST(count(*) AS BIGINT) AS total_tf
        |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |          FROM documents)
        |    WHERE term IN ('spark', 'window', 'merge')
        |    GROUP BY 1 HAVING count(DISTINCT term) = 3
        |    ORDER BY total_tf DESC, doc_id LIMIT 20)),
        |u AS (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |ev AS (
        |  SELECT cand_id AS doc_id, rk AS r1 FROM (
        |    SELECT c.vec_id AS cand_id,
        |      row_number() OVER (ORDER BY
        |        list_dot_product(q.v, c.v)
        |          / (sqrt(list_dot_product(q.v, q.v))
        |             * sqrt(list_dot_product(c.v, c.v))) DESC,
        |        c.vec_id) AS rk
        |    FROM u c CROSS JOIN (SELECT * FROM u WHERE vec_id = 7) q
        |    WHERE c.vec_id <> q.vec_id) WHERE rk <= 20),
        |f AS (
        |  SELECT COALESCE(kw.doc_id, ev.doc_id) AS doc_id, r0, r1
        |  FROM kw FULL OUTER JOIN ev ON ev.doc_id = kw.doc_id),
        |sc AS (
        |  SELECT doc_id,
        |    (CASE WHEN r0 IS NOT NULL
        |       THEN CAST(1 AS DOUBLE) / (60 + r0) ELSE 0.0 END)
        |    + (CASE WHEN r1 IS NOT NULL
        |       THEN CAST(1 AS DOUBLE) / (60 + r1) ELSE 0.0 END) AS s,
        |    (CASE WHEN r0 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
        |  FROM f)
        |SELECT CAST(rnk AS INTEGER) AS fused_rank, doc_id, n_lists,
        |  round(s, 6) AS rrf_score
        |FROM (SELECT *, row_number() OVER (ORDER BY s DESC, doc_id)
        |        AS rnk FROM sc)
        |WHERE rnk <= 20 ORDER BY fused_rank""".stripMargin),
    // CCNet-style corpus-LM perplexity: add-0.5-smoothed bigram model
    // trained and scored in one plan (dyadic alpha → exact cross-engine
    // ratio operands)
    // corpus bigram LM: counts + smoothed per-doc average log-prob; the
    // dyadic alpha keeps every ratio operand float-exact in both engines
    Gate("q_lm_perplexity", (s, d) =>
      Text.lmPerplexity(Tables.documents(s, d), "doc_id", "text",
        alpha = 0.5))(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |       FROM toks, UNNEST(range(1, greatest(len(t), 2))) AS u(i)
        |       WHERE t[i+1] IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS vv FROM c1),
        |s AS (SELECT bg.doc_id, count(*) AS n_bigrams,
        |        sum(ln((c2.c2 + CAST(0.5 AS DOUBLE))
        |                / (c1.c1 + CAST(0.5 AS DOUBLE) * vv))) AS lp
        |      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |      CROSS JOIN v
        |      GROUP BY 1)
        |SELECT d.doc_id, s.n_bigrams,
        |  round(lp / n_bigrams, 6) AS avg_logprob,
        |  round(exp(-lp / n_bigrams), 6) AS ppl
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // vocabulary induction: top-16 of the 31-term corpus vocabulary,
    // per-doc OOV accounting against it
    // vocabulary induction: top-16 terms by corpus frequency (term
    // tiebreak), per-doc OOV accounting against the induced vocabulary
    Gate("q_vocab_oov", (s, d) =>
      Text.vocabOovRates(Tables.documents(s, d), "doc_id", "text",
        vocabSize = 16))(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |v AS (SELECT term FROM (
        |        SELECT term, count(*) AS c FROM tok GROUP BY 1
        |        ORDER BY c DESC, term LIMIT 16)),
        |s AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_oov
        |      FROM tok t LEFT JOIN v ON t.term = v.term
        |      GROUP BY 1)
        |SELECT doc_id, n_tokens, n_oov,
        |  round(n_oov * 1.0 / n_tokens, 6) AS oov_rate
        |FROM s ORDER BY doc_id""".stripMargin),
    // pairwise source vocabulary overlap: per-source top-500 vocab under
    // the (count DESC, term) order, Jaccard over the bounded vocab sets
    // per-source top-V vocabulary (count DESC, term) then pairwise
    // Jaccard over the bounded vocab sets
    Gate("q_vocab_overlap", (s, d) => Text.vocabOverlap(
      Tables.documents(s, d), "source", "text", vocabSize = 500))(
      """WITH tok AS (SELECT source AS grp,
        |               unnest(string_split(text, ' ')) AS term
        |             FROM documents WHERE source IS NOT NULL),
        |c AS (SELECT grp, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |v AS (SELECT grp, term FROM (
        |        SELECT grp, term, row_number() OVER (PARTITION BY grp
        |          ORDER BY c DESC, term) AS r FROM c)
        |      WHERE r <= 500),
        |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v
        |      GROUP BY 1),
        |p AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
        |        CAST(count(*) AS BIGINT) AS n_common
        |      FROM v a JOIN v b ON a.term = b.term AND a.grp < b.grp
        |      GROUP BY 1, 2)
        |SELECT grp_a, grp_b, n_common,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
        |FROM p JOIN s sa ON sa.grp = grp_a JOIN s sb ON sb.grp = grp_b
        |ORDER BY grp_a, grp_b""".stripMargin),
    // Zipf's-law fit per source: ln(freq) ~ ln(rank) OLS over the
    // top-300 terms (slope ≈ -1 on natural text; drift monitor)
    // Zipf replay: same (count DESC, term) ranks, same closed-form OLS
    // moments on (ln rank, ln freq)
    Gate("q_zipf", (s, d) => Text.zipfFit(
      Tables.documents(s, d), "source", "text", topV = 300))(
      """WITH c AS (SELECT grp, term, count(*) AS c FROM (
        |        SELECT source AS grp,
        |          unnest(string_split(text, ' ')) AS term
        |        FROM documents WHERE source IS NOT NULL)
        |      GROUP BY 1, 2),
        |p AS (SELECT grp, ln(CAST(r AS DOUBLE)) AS x,
        |        ln(CAST(c AS DOUBLE)) AS y FROM (
        |        SELECT grp, c, term, row_number() OVER (
        |          PARTITION BY grp ORDER BY c DESC, term) AS r FROM c)
        |      WHERE r <= 300),
        |s AS (SELECT grp, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |        sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy,
        |        sum(y * y) AS syy FROM p GROUP BY 1),
        |f AS (SELECT grp, n, sx, sy, n * sxx - sx * sx AS dx,
        |        n * syy - sy * sy AS dy, n * sxy - sx * sy AS cv
        |      FROM s)
        |SELECT grp, CAST(n AS BIGINT) AS n_terms,
        |  round(CASE WHEN dx <> 0 THEN cv / dx END, 6) AS slope,
        |  round(CASE WHEN dx <> 0
        |    THEN (sy - (cv / dx) * sx) / n END, 6) AS intercept,
        |  round(CASE WHEN dx <> 0 AND dy <> 0
        |    THEN cv * cv / (dx * dy) END, 6) AS r2
        |FROM f ORDER BY grp""".stripMargin),
    // BPE merge induction: 8 greedy rounds over the distinct-word
    // frequency table (the learned upgrade path for subwordTokenizer)
    // BPE merge induction: the oracle replays all 8 greedy rounds as an
    // unrolled CTE chain (Scala-generated — recursive CTEs cannot
    // aggregate over their own working table in standard SQL). Greedy
    // left-to-right non-overlapping merging is spelled relationally:
    // within each maximal run of consecutive candidate positions, the
    // odd-ranked (1st, 3rd, …) candidates merge — consecutive candidates
    // only arise when lhs = rhs, where left-to-right greed takes exactly
    // every other one.
    Gate("q_bpe_merges", (s, d) =>
      Text.bpeMerges(Tables.documents(s, d), "doc_id", "text",
        rounds = 8))(
      bpeMergesOracle(8)),
    // apply the learned merges as a real subword tokenizer: per-doc
    // letter-symbol vs BPE-token accounting over the distinct-word
    // frame. CONSUMES the published merge table (r16 publish-split,
    // the GBT/Louvain discipline: q_bpe_merges keeps the 8-round
    // induction chain measured live; this gate was re-fitting the
    // identical chain before applying it)
    // encode = training chain reuse: s8's per-word row count IS the
    // subword count (merges replayed in training order)
    Gate("q_bpe_encode", (s, d) =>
      Text.bpeEncode(Tables.documents(s, d), "doc_id", "text",
        bpeMergesModel(s, d)))(
      bpeEncodeOracle(8)),
    // tokenizer fertility report: tokens-per-word and chars-per-token
    // per source at vocab checkpoints 0/4/8 merges — the pre-commit
    // read on a BPE vocabulary (which source is under-served?).
    // Consumes the published merge table (r16 publish-split, same
    // rationale as q_bpe_encode)
    Gate("q_bpe_fertility", (s, d) =>
      Text.bpeFertility(Tables.documents(s, d), "text", "source",
        bpeMergesModel(s, d), checkpoints = Seq(0, 4, 8)))(
      bpeFertilityOracle(8, Seq(0, 4, 8))),
    // unigram-LM tokenizer training (SentencePiece's model, Kudo 2018):
    // 3 hard-EM rounds — Viterbi segment the distinct-word frame against
    // a broadcast vocab map, renormalize counts — the probabilistic
    // sibling of q_bpe_merges; this gate keeps the EM chain measured
    // live (its consumers ride the published table below)
    // the unigram-LM chain: hard-EM rounds as recursive Viterbi DP +
    // backtrace blocks (the published vocab the Spark gates consume is
    // trained with the SAME parameters, so oracle and artifact agree)
    Gate("q_unigram_train", (s, d) =>
      Text.unigramTrain(Tables.documents(s, d), "doc_id", "text",
        rounds = 3, maxPieceLen = 4, seedSize = 200, minCount = 2L))(
      unigramTrainOracle(3)),
    // segment with the PUBLISHED unigram vocab (an Artifacts parameter
    // table — no re-train in this gate)
    Gate("q_unigram_encode", (s, d) =>
      Text.unigramEncode(Tables.documents(s, d), "doc_id", "text",
        unigramVocabModel(s, d)))(
      unigramEncodeOracle(3)),
    // fertility face-off of the two TRAINED tokenizers per source, both
    // consumed as published parameter tables
    Gate("q_tokenizer_compare", (s, d) =>
      Text.tokenizerCompare(Tables.documents(s, d), "text", "source",
        bpeMergesModel(s, d), unigramVocabModel(s, d)))(
      tokenizerCompareOracle(8, 3)),
    // how good is the lang-ID classifier REALLY? kappa of predicted vs
    // labeled language over the LITERAL multilingual fixture — the
    // synthetic corpus's lang labels are independent of its (English-
    // vocabulary) text, so corpus agreement has a chance-level ceiling
    // for ANY classifier; the fixture's labels are real, and its 4
    // deliberately-hard rows keep the measured kappa honest (< 1)
    // lang-ID agreement replay: the trigram prediction chain over the
    // LITERAL multilingual fixture (same rows as Text.langIdFixture),
    // then the q_kappa fold
    Gate("q_langid_agreement", (s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val fx = Text.langIdFixture.toDF("sid", "lang", "text")
      graft.ops.Stats.cohenKappa(
        Text.langId(fx, "sid", "text")
          .select(col("sid"), col("pred_lang"))
          .join(fx.select(col("sid"), col("lang")), "sid"),
        "lang", "pred_lang")
    })(
      (s"""WITH fx(sid, lang, text) AS (VALUES
        |      $langFixtureValues),
        |${langScoreCtes("fx", "sid, lang")},
        |b AS (SELECT lang AS a, pred_lang AS p FROM lpr),""".stripMargin +
      """
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
        |FROM g ORDER BY cls""".stripMargin)),
    // hashed bag-of-ngrams quality classifier, trained in-engine (the
    // fastText-lite / NB-LR loop): char-trigram md5 hashing to 64
    // buckets -> NB log-count-ratio micro weights from the labeled
    // fixture -> exact-long doc features -> 4-round Newton logistic
    // calibration -> score the corpus (every 4th doc gets an injected
    // spam suffix — the corpus itself is neutral word salad) -> per-
    // source kept rate. All sums exact ints; the model rides in two
    // broadcast 1-row frames
    // NB-LR quality-classifier replay: generated Newton unroll over the
    // fixture VALUES, exact-int features, per-source rollup
    Gate("q_quality_classifier", (s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val labeled = Text.qualityFixture.toDF("id", "y", "text")
      val corpus = Tables.documents(s, d).select(
        col("doc_id").as("id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit(" win free cash prizes instantly click here claim " +
              "your free bonus now buy cheap pills online casino " +
              "jackpot win money fast click now free offer"))
            .otherwise(lit(""))).as("text"),
        col("source"))
      Text.qualityClassifierReport(labeled, corpus, "id", "text", "y",
        "source")
    })(
      qualityClassifierOracle(nBuckets = 64,
      rounds = 4)),
    // 2-feature quality classifier: mean gram log-odds PLUS gram
    // coverage (share of grams in >= 2-count training buckets; 4096
    // buckets so out-of-vocabulary text is visible), standardized per
    // feature, 4-round Newton with the closed-form 3x3 adjugate solve,
    // scored with the published round-6 coefficients — same injected
    // spam suffix corpus, per-source rollup with mean coverage
    // 2-feature replay: seen-flagged weights, exact (f, coverage)
    // micros, per-feature standardization, 3x3 adjugate Newton unroll
    Gate("q_quality_classifier2", (s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val labeled = Text.qualityFixture.toDF("id", "y", "text")
      val corpus = Tables.documents(s, d).select(
        col("doc_id").as("id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit(" win free cash prizes instantly click here claim " +
              "your free bonus now buy cheap pills online casino " +
              "jackpot win money fast click now free offer"))
            .otherwise(lit(""))).as("text"),
        col("source"))
      Text.qualityClassifier2Report(labeled, corpus, "id", "text", "y",
        "source")
    })(
      qualityClassifier2Oracle(nBuckets = 4096,
      rounds = 4)),
  )

  /** The q_bpe_merges oracle: `rounds` greedy BPE rounds unrolled as a
    * CTE chain (one pair-count + argmax + merge block per round; standard
    * SQL recursive CTEs cannot aggregate over their own working table, so
    * the generator writes each round out explicitly). State s&#36;r holds one
    * row per (word, position, symbol); the merge step marks candidate
    * positions, keeps the odd-ranked ones within each run of consecutive
    * candidates (relational greedy left-to-right), rewrites the kept
    * position's symbol to the concatenation, drops the consumed right
    * position, and re-indexes.
    */
  private def bpeMergesOracle(rounds: Int): String = {
    val unionArms = (1 to rounds).map(r =>
      s"SELECT $r AS merge_round, l AS lhs, rr AS rhs, l || rr AS merged, " +
        s"cnt AS pair_count FROM t$r").mkString("\nUNION ALL ")
    s"""${bpeChainSql(rounds)}
       |$unionArms
       |ORDER BY merge_round""".stripMargin
  }

  /** The q_bpe_encode oracle rides the SAME training chain: applying the
    * learned merges in training order to the training corpus reproduces
    * the trainer's final symbol state, so the per-word subword count is
    * simply the row count of s&#36;rounds — joined back to per-document
    * word counts for the token accounting.
    */
  private def bpeEncodeOracle(rounds: Int): String =
    s"""${bpeChainSql(rounds)},
       |wc AS MATERIALIZED (
       |  SELECT d.doc_id, t.w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents d,
       |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
       |  GROUP BY d.doc_id, t.w),
       |ns AS MATERIALIZED (
       |  SELECT wid AS w, CAST(count(*) AS BIGINT) AS n_sub
       |  FROM s$rounds GROUP BY wid)
       |SELECT wc.doc_id,
       |  CAST(sum(wc.cnt * len(wc.w)) AS BIGINT) AS n_char_syms,
       |  CAST(sum(wc.cnt * ns.n_sub) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(wc.cnt * len(wc.w)) AS DOUBLE)
       |        / sum(wc.cnt * ns.n_sub), 6) AS compression
       |FROM wc JOIN ns ON ns.w = wc.w
       |GROUP BY wc.doc_id ORDER BY wc.doc_id""".stripMargin

  /** The q_bpe_fertility oracle rides the SAME training chain: the
    * per-word token count at checkpoint j is the row count of state
    * s&#36;j (the state after exactly j merges — s0 is the raw character
    * state), joined to per-(source, word) counts for the per-source
    * fertility/compression aggregates.
    */
  private def bpeFertilityOracle(rounds: Int,
                                 checkpoints: Seq[Int]): String = {
    val nsArms = checkpoints.map(j =>
      s"SELECT wid AS w, $j AS n_merges, CAST(count(*) AS BIGINT) " +
        s"AS n_sub FROM s$j GROUP BY 1, 2").mkString("\nUNION ALL ")
    s"""${bpeChainSql(rounds)},
       |swc AS MATERIALIZED (
       |  SELECT d.source, t.w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents d,
       |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
       |  GROUP BY d.source, t.w),
       |u AS MATERIALIZED ($nsArms)
       |SELECT swc.source, u.n_merges,
       |  CAST(sum(swc.cnt) AS BIGINT) AS n_words,
       |  round(CAST(sum(swc.cnt * u.n_sub) AS DOUBLE)
       |        / sum(swc.cnt), 6) AS tokens_per_word,
       |  round(CAST(sum(swc.cnt * len(swc.w)) AS DOUBLE)
       |        / sum(swc.cnt * u.n_sub), 6) AS chars_per_token
       |FROM swc JOIN u ON u.w = swc.w
       |GROUP BY 1, 2 ORDER BY source, n_merges""".stripMargin
  }

  /** The q_unigram_train oracle: the EM chain's final vocab with the
    * renormalized 6-decimal log-probs. */
  private def unigramTrainOracle(rounds: Int): String =
    s"""${unigramChainSql(rounds, encodePass = false, emitWords = true)}
       |SELECT piece, cnt,
       |  round(ln(cnt) -
       |    ln((SELECT CAST(sum(cnt) AS DOUBLE) FROM uv$rounds)), 6) AS lp
       |FROM uv$rounds ORDER BY piece""".stripMargin

  /** The q_unigram_encode oracle rides the SAME chain plus the encode
    * pass: per-word token counts are the backtrace step counts of round
    * `rounds`+1, joined to per-document word counts. */
  private def unigramEncodeOracle(rounds: Int): String = {
    val e = rounds + 1
    s"""${unigramChainSql(rounds, encodePass = true, emitWords = true)},
       |uns AS MATERIALIZED (
       |  SELECT b.wid AS w, CAST(count(*) AS BIGINT) AS n_sub
       |  FROM ubt$e b JOIN ue$e e ON e.wid = b.wid AND e.pos = b.pos
       |  WHERE b.pos > 0 GROUP BY b.wid),
       |uwc AS MATERIALIZED (
       |  SELECT d.doc_id, t.w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents d,
       |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
       |  GROUP BY d.doc_id, t.w)
       |SELECT uwc.doc_id,
       |  CAST(sum(uwc.cnt * len(uwc.w)) AS BIGINT) AS n_char_syms,
       |  CAST(sum(uwc.cnt * uns.n_sub) AS BIGINT) AS n_unigram_tokens,
       |  round(CAST(sum(uwc.cnt * len(uwc.w)) AS DOUBLE)
       |        / sum(uwc.cnt * uns.n_sub), 6) AS compression
       |FROM uwc JOIN uns ON uns.w = uwc.w
       |GROUP BY uwc.doc_id ORDER BY uwc.doc_id""".stripMargin
  }

  /** The q_tokenizer_compare oracle: the BPE chain (8 rounds) and the
    * unigram chain (3 EM rounds + encode pass) COMPOSED over one shared
    * words CTE — bpeChainSql's WITH is upgraded to WITH RECURSIVE for
    * the unigram DP/backtrace blocks — then the per-source fertility
    * union. */
  private def tokenizerCompareOracle(bpeRounds: Int,
                                     uniRounds: Int): String = {
    val e = uniRounds + 1
    s"""${bpeChainSql(bpeRounds).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${unigramChainSql(uniRounds, encodePass = true, emitWords = false)},
       |ubn AS MATERIALIZED (
       |  SELECT wid AS w, CAST(count(*) AS BIGINT) AS n_sub,
       |         'bpe' AS tokenizer
       |  FROM s$bpeRounds GROUP BY wid),
       |uun AS MATERIALIZED (
       |  SELECT b.wid AS w, CAST(count(*) AS BIGINT) AS n_sub,
       |         'unigram' AS tokenizer
       |  FROM ubt$e b JOIN ue$e e ON e.wid = b.wid AND e.pos = b.pos
       |  WHERE b.pos > 0 GROUP BY b.wid),
       |uswc AS MATERIALIZED (
       |  SELECT d.source, t.w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents d,
       |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
       |  GROUP BY d.source, t.w)
       |SELECT uswc.source, n.tokenizer,
       |  CAST(sum(uswc.cnt) AS BIGINT) AS n_words,
       |  round(CAST(sum(uswc.cnt * n.n_sub) AS DOUBLE)
       |        / sum(uswc.cnt), 6) AS tokens_per_word,
       |  round(CAST(sum(uswc.cnt * len(uswc.w)) AS DOUBLE)
       |        / sum(uswc.cnt * n.n_sub), 6) AS chars_per_token
       |FROM uswc
       |JOIN (SELECT * FROM ubn UNION ALL SELECT * FROM uun) n
       |  ON n.w = uswc.w
       |GROUP BY 1, 2 ORDER BY uswc.source, n.tokenizer""".stripMargin
  }

  /** Rule-attribution replay: the q_quality ratio CTE, five rule
    * booleans, one conditional-sum aggregate, unpivoted as a UNION of
    * five 1-row selects — generated so the rule order and the
    * unique/marginal/survivor prefixes stay mechanically in lockstep
    * with [[graft.ops.Text.filterAttribution]].
    */
  private def filterAttributionOracle: String = {
    val idx = 0 until 5
    val names = Seq("1_tokens", "2_word_len", "3_stopwords", "4_punct",
      "5_digits")
    def allBut(i: Int) =
      idx.filter(_ != i).map(j => s"p$j").mkString(" AND ")
    def prefix(i: Int) =
      if (i == 0) "TRUE" else (0 until i).map(j => s"p$j").mkString(" AND ")
    def through(i: Int) = (0 to i).map(j => s"p$j").mkString(" AND ")
    val aggs = idx.map { i =>
      s"""CAST(sum(CASE WHEN NOT p$i THEN 1 ELSE 0 END) AS BIGINT)
         |      AS fail$i,
         |    CAST(sum(CASE WHEN NOT p$i AND ${allBut(i)}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS uniq$i,
         |    CAST(sum(CASE WHEN NOT p$i AND ${prefix(i)}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS marg$i,
         |    CAST(sum(CASE WHEN ${through(i)} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS surv$i""".stripMargin
    }.mkString(",\n    ")
    val rows = idx.map { i =>
      s"""SELECT '${names(i)}' AS rule, n_input, fail$i AS n_fail,
         |    uniq$i AS n_unique_fail, marg$i AS n_marginal,
         |    surv$i AS n_survive FROM a""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |    length(replace(text, ' ', '')) * 1.0
       |      / greatest(len(string_split(text, ' ')), 1) AS mean_tok_len,
       |    len(list_filter(string_split(lower(text), ' '), x -> x IN
       |      ('the','a','of','and','is','in','to'))) * 1.0
       |      / greatest(len(string_split(text, ' ')), 1) AS stop_ratio,
       |    len(regexp_extract_all(text, '[[:punct:]]')) * 1.0
       |      / greatest(length(text), 1) AS punct_ratio,
       |    len(regexp_extract_all(text, '[0-9]')) * 1.0
       |      / greatest(length(text), 1) AS digit_ratio
       |  FROM documents),
       |f AS (SELECT
       |    (n_tokens BETWEEN 5 AND 1000) AS p0,
       |    (mean_tok_len BETWEEN 3.0 AND 12.0) AS p1,
       |    (stop_ratio >= 0.01) AS p2,
       |    (punct_ratio <= 0.2) AS p3,
       |    (digit_ratio <= 0.2) AS p4
       |  FROM b),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_input,
       |    $aggs
       |  FROM f)
       |$rows
       |ORDER BY rule""".stripMargin
  }

  /** Published BPE merge table (8 rounds, the q_bpe_merges parameters) —
    * q_bpe_merges keeps the induction chain measured live;
    * q_tokenizer_compare consumes the parquet artifact.
    */
  private def bpeMergesModel(s: SparkSession, d: String): DataFrame =
    published(s, d, "bpe_merges")(Text.bpeMerges(
      Tables.documents(s, d), "doc_id", "text", rounds = 8))

  /** The q_hill_tail oracle: one term count, rank ≤ max k + 1, per-k
    * pinned-rank-order ln folds against the (k+1)-th count.
    */
  private def hillOracle(ks: Seq[Int]): String = {
    val kMax = ks.max
    val per = ks.map { k =>
      s"""h$k AS (SELECT $k AS k, threshold_count, hill_alpha FROM (
         |  SELECT rk.r, t.c AS threshold_count,
         |    round(CAST($k AS DOUBLE) / sum(ln(CAST(rk.c AS DOUBLE))
         |        - ln(CAST(t.c AS DOUBLE)))
         |      OVER (ORDER BY rk.r ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND UNBOUNDED FOLLOWING), 6) + 0.0 AS hill_alpha
         |  FROM rk CROSS JOIN (SELECT c FROM rk WHERE r = $k + 1) t
         |  WHERE rk.r <= $k) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH tc AS (SELECT l_partkey AS term,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1),
       |rk AS (SELECT term, c,
       |    row_number() OVER (ORDER BY c DESC, term) AS r
       |  FROM tc QUALIFY r <= ${kMax + 1}),
       |$per
       |SELECT CAST(k AS INTEGER) AS k, threshold_count, hill_alpha
       |FROM (${ks.map(k => s"SELECT * FROM h$k").mkString(" UNION ALL ")})
       |ORDER BY k""".stripMargin
  }

  /** The q_heaps oracle: md5-shard assignment (the portable 60-bit
    * hash), term min-shard + shard token counts, dyadic-union
    * checkpoints, pinned ln-ln OLS folds.
    */
  private def heapsOracle(shards: Int): String = {
    val nCheck = java.lang.Integer.numberOfTrailingZeros(shards) + 1
    val cps = (0 until nCheck).map(j => 1 << j)
    val per = cps.map { c =>
      s"""p$c AS (SELECT $c AS k_shards,
         |    (SELECT CAST(sum(nt) AS BIGINT) FROM st WHERE sh < $c)
         |      AS n_tokens,
         |    (SELECT CAST(count(*) AS BIGINT) FROM tm WHERE ms < $c)
         |      AS vocab)""".stripMargin
    }.mkString(",\n")
    s"""WITH sharded AS (SELECT sh, array_to_string(t[i:i+2], ' ')
       |      AS term
       |  FROM (SELECT
       |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |        AS BIGINT) % $shards AS sh,
       |      string_split(text, ' ') AS t
       |    FROM documents),
       |    UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
       |tm AS (SELECT term, min(sh) AS ms FROM sharded GROUP BY 1),
       |st AS (SELECT sh, CAST(count(*) AS BIGINT) AS nt
       |       FROM sharded GROUP BY 1),
       |$per,
       |pts AS (${cps.map(c => s"SELECT * FROM p$c")
                   .mkString(" UNION ALL ")}),
       |f AS (SELECT k_shards, n_tokens, vocab,
       |        ln(CAST(n_tokens AS DOUBLE)) AS lx,
       |        ln(CAST(vocab AS DOUBLE)) AS ly
       |      FROM pts WHERE n_tokens > 0 AND vocab > 0),
       |g AS (SELECT *, CAST(count(*) OVER pin AS DOUBLE) AS kk,
       |    sum(lx) OVER pin AS sx, sum(ly) OVER pin AS sy,
       |    sum(lx * ly) OVER pin AS sxy, sum(lx * lx) OVER pin AS sxx
       |  FROM f WINDOW pin AS (ORDER BY k_shards ROWS BETWEEN
       |    UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |s AS (SELECT *, (kk * sxy - sx * sy) / (kk * sxx - sx * sx)
       |        AS beta FROM g)
       |SELECT CAST(k_shards AS INTEGER) AS k_shards, n_tokens, vocab,
       |  round(beta, 6) AS beta,
       |  round(exp((sy - beta * sx) / kk), 6) AS k_coef
       |FROM s WHERE kk >= 2.0 ORDER BY k_shards""".stripMargin
  }

  /** The langIdFixture as a DuckDB VALUES relation literal (sid, lang,
    * text) — same Seq the Scala gate builds its DataFrame from.
    */
  private def langFixtureValues: String =
    Text.langIdFixture
      .map { case (i, l, t) => s"($i, '$l', '$t')" }
      .mkString(",\n      ")

  /** The q_quality_classifier oracle: replays the whole NB-LR loop —
    * fixture char trigrams, md5 % nBuckets hashing, smoothed log-count-
    * ratio micro weights over ALL buckets, exact-long doc features,
    * exact-moment standardization, the q_fit_logistic Newton unroll
    * (generated, identical expression text), round-6 published
    * coefficients, injected-suffix corpus scoring, per-source rollup.
    */
  private def qualityClassifierOracle(nBuckets: Int, rounds: Int)
      : String = {
    val newton = (0 until rounds).map { r =>
      s"""p$r AS (SELECT y, z, 1.0 / (1.0 + exp(0.0 - (b0 + b1 * z)))
         |    AS p, b0, b1 FROM zl, b${r}r),
         |s$r AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    sum(y - p) AS g0, sum((y - p) * z) AS g1,
         |    sum(p * (1.0 - p)) AS h00, sum(p * (1.0 - p) * z) AS h01,
         |    sum(p * (1.0 - p) * z * z) AS h11,
         |    any_value(b0) AS b0, any_value(b1) AS b1 FROM p$r),
         |b${r + 1}r AS (SELECT
         |    b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
         |    b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
         |  FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH fx(id, y, text) AS (VALUES
       |      $qualityFixtureValues),
       |corp AS (SELECT doc_id AS id, source,
       |    text || CASE WHEN doc_id % 4 = 0
       |      THEN ' win free cash prizes instantly click here claim your free bonus now buy cheap pills online casino jackpot win money fast click now free offer'
       |      ELSE '' END AS text
       |  FROM documents),
       |fg AS (SELECT id, y,
       |    CAST('0x' || substr(md5(substr(text, i.i, 3)), 1, 15)
       |      AS BIGINT) % $nBuckets AS bucket
       |  FROM fx CROSS JOIN
       |    UNNEST(range(1, greatest(length(text) - 2, 1) + 1)) AS i(i)),
       |cnt AS (SELECT bucket,
       |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS s
       |  FROM fg GROUP BY bucket),
       |tot AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ct,
       |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS st
       |  FROM fg),
       |w AS (SELECT b.b AS bucket,
       |    CAST(round((ln(CAST(COALESCE(cnt.c, 0) + 1 AS DOUBLE)
       |        / CAST(tot.ct + $nBuckets AS DOUBLE))
       |      - ln(CAST(COALESCE(cnt.s, 0) + 1 AS DOUBLE)
       |        / CAST(tot.st + $nBuckets AS DOUBLE))) * 1000000)
       |      AS BIGINT) AS w_micro
       |  FROM UNNEST(range($nBuckets)) AS b(b)
       |  LEFT JOIN cnt ON cnt.bucket = b.b CROSS JOIN tot),
       |lf AS (SELECT fg.id, any_value(fg.y) AS y,
       |    CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(round(CAST(sum(w.w_micro) AS DOUBLE) / count(*))
       |      AS BIGINT) AS f
       |  FROM fg JOIN w ON w.bucket = fg.bucket GROUP BY fg.id),
       |stt AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(f) AS DOUBLE) AS sf,
       |    CAST(sum(CAST(f AS HUGEINT) * f) AS DOUBLE) AS sf2 FROM lf),
       |stm AS (SELECT (sf / n) AS m,
       |    sqrt((sf2 - sf * sf / n) / (n - 1)) AS sd FROM stt),
       |zl AS (SELECT CAST(y AS DOUBLE) AS y,
       |    (CAST(f AS DOUBLE) - m) / sd AS z FROM lf, stm),
       |b0r AS (SELECT 0.0 AS b0, 0.0 AS b1),
       |$newton,
       |bfin AS (SELECT round(b0, 6) + 0.0 AS b0,
       |    round(b1, 6) + 0.0 AS b1 FROM b${rounds}r),
       |cg AS (SELECT id, source,
       |    CAST('0x' || substr(md5(substr(text, i.i, 3)), 1, 15)
       |      AS BIGINT) % $nBuckets AS bucket
       |  FROM corp CROSS JOIN
       |    UNNEST(range(1, greatest(length(text) - 2, 1) + 1)) AS i(i)),
       |cf AS (SELECT cg.id, any_value(cg.source) AS source,
       |    CAST(round(CAST(sum(w.w_micro) AS DOUBLE) / count(*))
       |      AS BIGINT) AS f
       |  FROM cg JOIN w ON w.bucket = cg.bucket GROUP BY cg.id),
       |scored AS (SELECT cf.id, cf.source, cf.f,
       |    round(1.0 / (1.0 + exp(0.0 - (b.b0 + b.b1
       |      * ((CAST(cf.f AS DOUBLE) - stm.m) / stm.sd)))), 6) AS score
       |  FROM cf, stm, bfin b)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN score > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  round(CAST(sum(CASE WHEN score > 0.5 THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*), 6) AS kept_rate,
       |  round(CAST(sum(f) AS DOUBLE) / count(*) / 1000000.0, 6)
       |    AS mean_logodds
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  /** The q_quality_classifier2 oracle: [[qualityClassifierOracle]]
    * widened to the (log-odds, coverage) plane — the same fixture
    * grams and smoothed micro weights plus the >= 2-count `seen`
    * vocabulary flag, per-doc exact (f, coverage) micros, per-feature
    * exact-moment standardization, and the fitLogistic2 Newton unroll
    * with the identical cofactor/adjugate expression text (c00..c22,
    * det, the three dot products). Scoring and rollup replay the gate's
    * injected-suffix corpus with the mean-coverage column.
    */
  private def qualityClassifier2Oracle(nBuckets: Int, rounds: Int)
      : String =
    s"""WITH ${classifier2TrainCtes(nBuckets, rounds)},
       |corp AS (SELECT doc_id AS id, source,
       |    text || CASE WHEN doc_id % 4 = 0
       |      THEN ' win free cash prizes instantly click here claim your free bonus now buy cheap pills online casino jackpot win money fast click now free offer'
       |      ELSE '' END AS text
       |  FROM documents),
       |${classifier2ScoreCtes("corp", nBuckets)}
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN score > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  round(CAST(sum(CASE WHEN score > 0.5 THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*), 6) AS kept_rate,
       |  round(CAST(sum(f) AS DOUBLE) / count(*) / 1000000.0, 6)
       |    AS mean_logodds,
       |  round(CAST(sum(cv) AS DOUBLE) / count(*) / 1000000.0, 6)
       |    AS mean_coverage
       |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** The shared DSIR CTE chain (through `rk`): fixture target grams,
    * corpus grams, bucket counts, micro log-ratio λ table over ALL
    * buckets, exact-long doc sums, the md5-Gumbel key and the
    * (key DESC, id) ranking. q_dsir appends the top-k select;
    * q_dsir_mix appends the per-source selected-vs-corpus share rollup.
    */
  private def dsirChainSql: String =
    s"""WITH fx(id, y, text) AS (VALUES
      |      $qualityFixtureValues),
      |tg AS (SELECT CAST('0x' || substr(md5(substr(text, i.i, 3)),
      |           1, 15) AS BIGINT) % 64 AS bucket
      |       FROM fx CROSS JOIN
      |         UNNEST(range(1, greatest(length(text) - 2, 1) + 1))
      |           AS i(i)
      |       WHERE y = 1),
      |rg AS (SELECT doc_id, CAST('0x' || substr(md5(substr(text, i.i,
      |           3)), 1, 15) AS BIGINT) % 64 AS bucket
      |       FROM documents CROSS JOIN
      |         UNNEST(range(1, greatest(length(text) - 2, 1) + 1))
      |           AS i(i)),
      |tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t FROM tg
      |       GROUP BY 1),
      |rb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r FROM rg
      |       GROUP BY 1),
      |tots AS (SELECT (SELECT CAST(sum(t) AS BIGINT) FROM tb) AS tt,
      |                (SELECT CAST(sum(r) AS BIGINT) FROM rb) AS rt),
      |lam AS (SELECT b.b AS bucket,
      |    CAST(round((ln(CAST(COALESCE(tb.t, 0) + 1 AS DOUBLE)
      |        / CAST(tots.tt + 64 AS DOUBLE))
      |      - ln(CAST(COALESCE(rb.r, 0) + 1 AS DOUBLE)
      |        / CAST(tots.rt + 64 AS DOUBLE))) * 1000000)
      |      AS BIGINT) AS w
      |  FROM UNNEST(range(64)) AS b(b)
      |  LEFT JOIN tb ON tb.bucket = b.b
      |  LEFT JOIN rb ON rb.bucket = b.b CROSS JOIN tots),
      |feat AS (SELECT rg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(lam.w) AS BIGINT) AS ws
      |  FROM rg JOIN lam ON lam.bucket = rg.bucket GROUP BY 1),
      |keyed AS (SELECT doc_id, n_grams, ws,
      |    -ln(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id
      |      AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) + 0.5)
      |      / CAST(1152921504606846976 AS DOUBLE))) AS gum
      |  FROM feat),
      |wk AS (SELECT *, CAST(ws AS DOUBLE) / 1000000.0 + gum AS key
      |       FROM keyed),
      |rk AS (SELECT *, row_number() OVER (ORDER BY key DESC, doc_id)
      |         AS rank FROM wk)""".stripMargin
}
