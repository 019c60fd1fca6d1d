package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Dedup, Text}
import Shared._

/** The gates whose plans call [[graft.ops.Curation]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object CurationGates {
  val all: Seq[Gate] = Seq(
    // deterministic hash sampling via the portable 60-bit md5 hash
    Gate("q_hash_sample", (s, d) =>
      graft.ops.Curation.hashSample(Tables.documents(s, d), "doc_id", 0.25)
        .select("doc_id").orderBy("doc_id"))(
      """SELECT doc_id FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 10000 < 2500
        |ORDER BY doc_id""".stripMargin),
    // k-anonymity / l-diversity release gate: QI = (nation, segment),
    // sensitive = the in-debt flag — the privacy scorecard a curated
    // dataset passes before it ships (companion to q_redact/q_dp_counts)
    // k-anonymity replay: per-QI-class sizes + exact sensitive distinct,
    // scalar rollup; worst class = ORDER BY (sz, QIs) LIMIT 1 — the same
    // total order as Spark's min(struct)
    Gate("q_k_anonymity", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Curation.kAnonymityReport(
        Tables.customer(s, d)
          .withColumn("in_debt", col("c_acctbal") < 0),
        Seq("c_nationkey", "c_mktsegment"), "in_debt", k = 10)
    })(
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT coalesce(
        |      CAST(c_acctbal < 0 AS VARCHAR), '__null__')) AS BIGINT)
        |      AS ldiv
        |  FROM customer GROUP BY 1, 2),
        |s AS (
        |  SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_classes,
        |    min(sz) AS k_anonymity,
        |    CAST(count(*) FILTER (WHERE sz < 10) AS BIGINT)
        |      AS classes_below_k,
        |    CAST(coalesce(sum(sz) FILTER (WHERE sz < 10), 0) AS BIGINT)
        |      AS rows_below_k,
        |    min(ldiv) AS min_l_diversity,
        |    CAST(count(*) FILTER (WHERE ldiv = 1) AS BIGINT) AS classes_l1
        |  FROM cls),
        |w AS (SELECT c_nationkey AS worst_c_nationkey,
        |        c_mktsegment AS worst_c_mktsegment
        |      FROM cls ORDER BY sz, c_nationkey, c_mktsegment LIMIT 1)
        |SELECT 10 AS k_threshold, n_rows, n_classes, k_anonymity,
        |  classes_below_k, rows_below_k,
        |  round(rows_below_k / CAST(n_rows AS DOUBLE), 6)
        |    AS pct_rows_below_k,
        |  min_l_diversity, classes_l1, worst_c_nationkey,
        |  worst_c_mktsegment
        |FROM s CROSS JOIN w""".stripMargin),
    // length-bucketed batching: quartile token-count buckets + padding
    // waste per bucket (the batcher's pad-to-max cost)
    Gate("q_length_buckets", (s, d) => graft.ops.Curation.lengthBuckets(
      Tables.documents(s, d), "doc_id", "text", buckets = 4))(
      """WITH c AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |e AS (SELECT quantile_cont(CAST(n AS DOUBLE),
        |        [0.25, 0.5, 0.75]) AS q FROM c),
        |b AS (SELECT CAST(1
        |          + (CASE WHEN n >= q[1] THEN 1 ELSE 0 END)
        |          + (CASE WHEN n >= q[2] THEN 1 ELSE 0 END)
        |          + (CASE WHEN n >= q[3] THEN 1 ELSE 0 END)
        |        AS INTEGER) AS bucket, n
        |      FROM c CROSS JOIN e),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |        min(n) AS min_tokens, max(n) AS max_tokens,
        |        CAST(sum(n) AS BIGINT) AS sum_tokens
        |      FROM b GROUP BY bucket)
        |SELECT bucket, n_docs, min_tokens, max_tokens, sum_tokens,
        |  max_tokens * n_docs - sum_tokens AS pad_waste,
        |  round(CAST(max_tokens * n_docs - sum_tokens AS DOUBLE) /
        |    CAST(max_tokens * n_docs AS DOUBLE), 6) AS waste_frac
        |FROM g ORDER BY bucket""".stripMargin),
    // two-sided 5/95 winsorization of the price column with before/after
    // means and clip counts
    Gate("q_winsorize", (s, d) => graft.ops.Curation.winsorize(
      Tables.lineitem(s, d), "l_extendedprice", 0.05, 0.95))(
      """WITH e AS (SELECT quantile_cont(
        |             floor(CAST(l_extendedprice AS DOUBLE) * 16.0) / 16.0,
        |             [0.05, 0.95]) AS q
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |        q[1] AS lo, q[2] AS hi
        |      FROM lineitem CROSS JOIN e
        |      WHERE l_extendedprice IS NOT NULL),
        |g AS (SELECT lo, hi, round(avg(v), 6) AS mean_raw,
        |        round(avg(CASE WHEN v < lo THEN lo
        |                       WHEN v > hi THEN hi ELSE v END), 6)
        |          AS mean_winsorized,
        |        CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_clipped_lo,
        |        CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_clipped_hi
        |      FROM c GROUP BY lo, hi)
        |SELECT round(lo, 6) AS p_lo, round(hi, 6) AS p_hi, mean_raw,
        |  mean_winsorized, n_clipped_lo, n_clipped_hi FROM g""".stripMargin),
    // deterministic contrastive negatives: 2 md5-ordered successors per
    // doc within 8 md5 buckets
    Gate("q_negative_pairs", (s, d) => graft.ops.Curation.negativePairs(
      Tables.documents(s, d), "doc_id", k = 2, buckets = 8, seed = "neg1"))(
      """WITH b AS (SELECT doc_id,
        |             md5('neg1_' || CAST(doc_id AS VARCHAR)) AS key
        |           FROM documents),
        |k AS (SELECT doc_id,
        |        key, CAST('0x' || substr(key, 1, 15) AS BIGINT) % 8 AS bk
        |      FROM b),
        |l AS (SELECT doc_id AS anchor_id,
        |        lead(doc_id, 1) OVER w AS n1,
        |        lead(doc_id, 2) OVER w AS n2
        |      FROM k WINDOW w AS (PARTITION BY bk ORDER BY key, doc_id))
        |SELECT anchor_id, j, neg_id FROM (
        |  SELECT anchor_id, 1 AS j, n1 AS neg_id FROM l
        |  UNION ALL SELECT anchor_id, 2 AS j, n2 AS neg_id FROM l)
        |WHERE neg_id IS NOT NULL
        |ORDER BY anchor_id, j""".stripMargin),
    // weighted sampling: inclusion prob ∝ length band (1 + n_chars div 256)
    // at dyadic rate 1/64 — thresholds exact on the 2^20 grid both engines
    // weighted sampling: per-row threshold w * (rate * 2^20) on the same
    // md5 grid; rate 1/64 -> 16384 threshold units per weight step
    Gate("q_weighted_sample", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.ops.Curation.weightedSample(
        Tables.documents(s, d)
          .withColumn("w", lit(1L) + expr("n_chars div 256")),
        "doc_id", "w", rate = 0.015625)
        .select(col("doc_id"), col("w")).orderBy("doc_id")
    })(
      """SELECT doc_id, 1 + n_chars // 256 AS w FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 1048576
        |      < least((1 + n_chars // 256) * 16384, 1048576)
        |ORDER BY doc_id""".stripMargin),
    // exact-k per-source sample: md5(seed,id) order, 15 docs per stratum
    // (strata hold 25 docs, so the cut is real, not a keep-all)
    // exact-k per-stratum sample: identical md5 sort key both engines
    Gate("q_sample_exact_k", (s, d) =>
      graft.ops.Curation.sampleExactK(Tables.documents(s, d), "doc_id",
        "source", k = 15, seed = "s7"))(
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('s7_' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS sample_rank
        |  FROM documents)
        |SELECT doc_id, source, CAST(sample_rank AS INTEGER) AS sample_rank
        |FROM r WHERE sample_rank <= 15
        |ORDER BY source, sample_rank""".stripMargin),
    // corpus mixing: dyadic per-source rates so the kept set is engine-exact
    // GPT-3/LLaMA-style temperature mixing recipe: per-source token
    // shares tempered by p^0.5 (sqrt composition — cross-engine-exact
    // power), renormalized over a pinned source order, budgeted
    // corpus mixing: same hash rule, per-source dyadic rates via CASE
    // temperature mix replay: exact long token sums, sqrt-composed
    // power, pinned-order window fold for the normalizer
    Gate("q_temperature_mix", (s, d) => graft.ops.Curation.temperatureMix(
      Tables.documents(s, d), "source", "text", tau = 0.5,
      targetTokens = 100000L))(
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT per.*,
        |        (SELECT CAST(sum(n_tokens) AS BIGINT) FROM per) AS N
        |      FROM per),
        |p AS (SELECT *, CAST(n_tokens AS DOUBLE) / N AS sh FROM t),
        |w AS (SELECT *, sqrt(sh) AS pt,
        |        sum(sqrt(sh)) OVER (ORDER BY source
        |          ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND UNBOUNDED FOLLOWING) AS z
        |      FROM p)
        |SELECT source, n_docs, n_tokens,
        |  round(sh, 6) AS share,
        |  round(pt / z, 6) AS weight,
        |  CAST(round(pt / z * 100000) AS BIGINT) AS expected_tokens,
        |  round(pt / z * 100000 / n_tokens, 4) AS epochs
        |FROM w ORDER BY source""".stripMargin),
    // the allocation temperatureMix can NOT produce: epoch-capped
    // token budgets solved by exact one-pass waterfilling (capped
    // sources are a prefix of the saturation order) — tau=0.25
    // flattens hard enough that the smallest sources hit the 1-epoch
    // cap at a 19/20 budget and the remainder redistributes
    // waterfilling replay: tempered weights with pinned-order folds,
    // saturation sort, prefix-exclusive cumulative caps/weights, the
    // capped-iff-lambda-clears-r test, and the first-uncapped level —
    // every float is the same expression over the same operands in the
    // same order as the Spark plan
    Gate("q_mix_budget", (s, d) => graft.ops.Curation.mixBudgetPlan(
      Tables.documents(s, d), "source", "text", tau = MixTau,
      budgetNum = MixBudgetNum, budgetDen = MixBudgetDen,
      maxEpochs = MixMaxEpochs))(
      (mixBudgetChainSql(MixTau, MixBudgetNum,
      MixBudgetDen, MixMaxEpochs) +
      """
        |SELECT source, n_docs, n_tokens,
        |  round(sh, 6) AS share, round(wt, 6) AS weight,
        |  cap_tokens,
        |  CASE WHEN capped THEN cap_tokens
        |       ELSE CAST(round(lev * wt, 0) AS BIGINT) END
        |    AS alloc_tokens,
        |  round((CASE WHEN capped THEN cap_tokens
        |         ELSE CAST(round(lev * wt, 0) AS BIGINT) END)
        |    * 1.0 / n_tokens, 4) AS epochs,
        |  capped, round(lev, 6) AS fill_level
        |FROM mbw5 ORDER BY source""".stripMargin)),
    // the plan EXECUTED: per-source allocation applied as a
    // deterministic md5-bucket sampling rate, with the
    // planned-vs-achieved reconciliation a budget owner reads after
    // the run
    // plan EXECUTION replay: the same chain's per-source allocation as
    // an md5-bucket sampling rate on the 2^20 lattice, per-doc keep,
    // planned-vs-achieved rollup
    Gate("q_mix_budget_apply", (s, d) => graft.ops.Curation.mixBudgetApply(
      Tables.documents(s, d), "doc_id", "source", "text", tau = MixTau,
      budgetNum = MixBudgetNum, budgetDen = MixBudgetDen))(
      (mixBudgetChainSql(MixTau, MixBudgetNum,
      MixBudgetDen, MixMaxEpochs) +
      ",\n" + allocRateCte + """,
        |dk AS (SELECT d.source, d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
        |    pl.alloc_tokens,
        |    (CAST('0x' || substr(md5('mba_' || CAST(d.doc_id
        |        AS VARCHAR)), 1, 15) AS BIGINT) % 1048576)
        |      < greatest(CAST(floor(pl.rate * 1048576) AS BIGINT),
        |                 least(pl.alloc_tokens, 1)) AS kp
        |  FROM documents d JOIN pl ON pl.source = d.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(min(alloc_tokens) AS BIGINT) AS planned_tokens,
        |  CAST(sum(CASE WHEN kp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_docs,
        |  CAST(sum(CASE WHEN kp THEN toks ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  round(CAST(min(alloc_tokens) AS DOUBLE) / sum(toks), 6)
        |    AS planned_rate,
        |  round(CAST(sum(CASE WHEN kp THEN toks ELSE 0 END) AS DOUBLE)
        |    / sum(toks), 6) AS achieved_rate
        |FROM dk GROUP BY source ORDER BY source""".stripMargin)),
    // empirical-Bayes credibility shrinkage of per-source mean length:
    // a k=16-pseudo-doc prior keeps tiny sources from topping the table
    // shrinkage replay: integer sums exact in any order, identical
    // blend arithmetic
    Gate("q_source_shrinkage", (s, d) =>
      graft.ops.Curation.shrunkSourceMeans(Tables.documents(s, d),
        "source", "n_chars", k = 16))(
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS s
        |  FROM documents GROUP BY 1),
        |g AS (SELECT CAST(sum(s) AS BIGINT) AS gs,
        |        CAST(sum(n_docs) AS BIGINT) AS gn FROM per)
        |SELECT source, n_docs,
        |  round(CAST(s AS DOUBLE) / n_docs, 6) AS raw_mean,
        |  round((s + 16 * (CAST(gs AS DOUBLE) / gn)) / (n_docs + 16), 6)
        |    AS shrunk_mean,
        |  round(CAST(n_docs AS DOUBLE) / (n_docs + 16), 6) AS credibility
        |FROM per, g ORDER BY source""".stripMargin),
    // two-way IPF raking: weights matching BOTH the source and lang
    // margins to equal-share targets
    // raking replay: Scala-generated IPF alternation chain (3 rounds)
    Gate("q_raking", (s, d) => graft.ops.Curation.rakeWeights(
      Tables.documents(s, d), "source", "lang", rounds = 3))(
      rakeOracle(3)),
    // the raked mix's price tag: Kish effective sample size + design
    // effect per source over the published round-6 rake weights
    // ESS replay: same weight chain, micros quantization, Kish ratio
    Gate("q_ess", (s, d) => graft.ops.Curation.essReport(
      graft.ops.Curation.rakeWeights(Tables.documents(s, d), "source",
        "lang", rounds = 3), "source", "n_docs", "weight"))(
      essOracle(3)),
    Gate("q_corpus_mix", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.ops.Curation.corpusMix(Tables.documents(s, d), "doc_id",
        "source", Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.125)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    })(
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CASE WHEN source = 'src0' THEN 1.0
        |         WHEN source = 'src1' THEN 0.5
        |         ELSE 0.125 END AS rate
        |  FROM documents)
        |SELECT source, count(*) AS n_docs FROM r
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 10000 < CAST(round(rate * 10000, 0) AS BIGINT)
        |GROUP BY source ORDER BY source""".stripMargin),
    Gate("q_mix_report", (s, d) => graft.ops.Curation.mixReport(
      Tables.documents(s, d), "source", "text", "lang"))(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_en,
        |  round(sum(length(text)) * 1.0 / count(*), 6) AS mean_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // token-budget sequence packing: 256-token bins over 8 parallel groups
    // streaming sequence packing: md5 groups, id-ordered running token sum
    Gate("q_pack", (s, d) => graft.ops.Curation.packSequences(
      Tables.documents(s, d), "doc_id", "text",
      budgetTokens = 256L, nGroups = 8))(
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 8 AS pack_group,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY pack_group
        |        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM base)
        |SELECT doc_id, pack_group, n_tokens,
        |  CAST(floor((cum - n_tokens) * 1.0 / 256) AS BIGINT) AS bin_seq
        |FROM c ORDER BY doc_id""".stripMargin),
    // batch emission: id-ordered concatenation per (group, bin)
    // packed-batch emission: same assignment as q_pack, id-ordered
    // string_agg per bin
    Gate("q_pack_batches", (s, d) => graft.ops.Curation.packedBatches(
      Tables.documents(s, d), "doc_id", "text",
      budgetTokens = 256L, nGroups = 8))(
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 8 AS pack_group,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY pack_group
        |        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM base)
        |SELECT pack_group,
        |  CAST(floor((cum - n_tokens) * 1.0 / 256) AS BIGINT) AS bin_seq,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  string_agg(text, ' ' ORDER BY doc_id) AS packed_text
        |FROM c
        |GROUP BY 1, 2 ORDER BY pack_group, bin_seq""".stripMargin),
    // packing under the sub-word budget — n_tokens/bins in BPE-ish units
    // sub-word-budgeted packing: n_tokens counted in BPE-ish units
    Gate("q_pack_subword", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.ops.Curation.packSequences(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" #"), col("doc_id").cast("string"),
            lit(".")).as("text")),
        "doc_id", "text", budgetTokens = 320L, nGroups = 8,
        tokenizer = Text.subwordTokenizer)
    })(
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 8 AS pack_group,
        |    CAST(len(regexp_extract_all(
        |      text || ' #' || CAST(doc_id AS VARCHAR) || '.',
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY pack_group
        |        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM base)
        |SELECT doc_id, pack_group, n_tokens,
        |  CAST(floor((cum - n_tokens) * 1.0 / 320) AS BIGINT) AS bin_seq
        |FROM c ORDER BY doc_id""".stripMargin),
    // leakage-free split: folds assigned per duplicate cluster, so a
    // near-dup of a train doc can never reach the eval fold
    // cluster-held-out split: the q_dup_clusters closure labels feed the
    // md5-bucket fold rule on the cluster representative
    Gate("q_leakage_split", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Curation.leakageFreeSplit(docs,
        Dedup.dupClusters(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.8)),
        "doc_id", trainRate = 0.8)
    })(
      jaccardClosureCtes + """
        |SELECT d.doc_id,
        |  coalesce(lab.cluster_id, d.doc_id) AS fold_rep,
        |  CASE WHEN CAST('0x' || substr(md5('fold_' ||
        |         CAST(coalesce(lab.cluster_id, d.doc_id) AS VARCHAR)),
        |         1, 15) AS BIGINT) % 10000 < 8000
        |       THEN 'train' ELSE 'test' END AS split
        |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
        |ORDER BY doc_id""".stripMargin),
    // URL canonicalization dedup: scheme/host lowercase, default-port
    // drop, trailing-slash strip, utm_* removal (param ORDER kept —
    // reordering is deliberately not collapsed), then exact-dup by the
    // canonical URL; the messy URL is derived deterministically from
    // doc_id so both engines canonicalize the identical input
    // dedup governance: the q_ngram_jaccard pair set attributed to
    // canonicalized (source, source) combinations
    // URL canonicalization replay: identical regexp chain, 'g' only
    // where a pattern can hit more than once (DuckDB replaces the first
    // match by default; Spark is always global; anchored patterns
    // match at most once so the two agree)
    Gate("q_url_canon", (s, d) => {
      import org.apache.spark.sql.functions._
      val did = col("doc_id")
      val url = concat(
        when(did % 3 === 0, "HTTP://").when(did % 3 === 1, "https://")
          .otherwise("Https://"),
        when(did % 2 === 0, "WWW.").otherwise(""),
        lit("Site"), (did % 7).cast("string"), lit(".EXAMPLE.com"),
        when(did % 4 === 0, ":80").when(did % 4 === 1, ":443")
          .when(did % 4 === 2, ":8080").otherwise(""),
        lit("/Articles/item-"), (did % 10).cast("string"),
        when(did % 5 === 0, "/").otherwise(""),
        when(did % 6 === 0,
          concat(lit("?utm_source=news&ref="), (did % 4).cast("string")))
          .when(did % 6 === 1, concat(lit("?ref="),
            (did % 4).cast("string"), lit("&utm_campaign=Spring")))
          .when(did % 6 === 2, lit("?utm_medium=email"))
          .when(did % 6 === 3,
            concat(lit("?ref="), (did % 4).cast("string")))
          .otherwise(""))
      graft.ops.Curation.urlCanonDedup(
        Tables.documents(s, d).withColumn("url", url), "doc_id", "url")
    })(
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://'
        |        WHEN doc_id % 3 = 1 THEN 'https://'
        |        ELSE 'Https://' END)
        |  || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
        |  || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.EXAMPLE.com'
        |  || (CASE WHEN doc_id % 4 = 0 THEN ':80'
        |           WHEN doc_id % 4 = 1 THEN ':443'
        |           WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END)
        |  || '/Articles/item-' || CAST(doc_id % 10 AS VARCHAR)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 6 = 0
        |        THEN '?utm_source=news&ref=' || CAST(doc_id % 4 AS VARCHAR)
        |      WHEN doc_id % 6 = 1
        |        THEN '?ref=' || CAST(doc_id % 4 AS VARCHAR)
        |             || '&utm_campaign=Spring'
        |      WHEN doc_id % 6 = 2 THEN '?utm_medium=email'
        |      WHEN doc_id % 6 = 3
        |        THEN '?ref=' || CAST(doc_id % 4 AS VARCHAR)
        |      ELSE '' END) AS url
        |  FROM documents),
        |parts AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    AS scheme,
        |  lower(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |  regexp_extract(url, '(\?[^#]*)', 1) AS rawq
        |  FROM u),
        |hp AS (SELECT doc_id, scheme, rawpath, rawq,
        |  CASE WHEN scheme = 'http'
        |         THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https'
        |         THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END AS host
        |  FROM parts),
        |canon AS (SELECT doc_id,
        |  scheme || '://' || host
        |  || COALESCE(NULLIF(regexp_replace(NULLIF(rawpath, ''),
        |       '/+$', ''), ''), '/')
        |  || regexp_replace(regexp_replace(
        |       regexp_replace(rawq, '&utm_[^=&#]*=[^&#]*', '', 'g'),
        |       '\?utm_[^=&#]*=[^&#]*&', '?'),
        |       '\?utm_[^=&#]*=[^&#]*$', '') AS canonical_url,
        |  regexp_replace(regexp_replace(host, ':[0-9]+$', ''),
        |    '^www\.', '') AS domain
        |  FROM hp)
        |SELECT canonical_url, domain,
        |  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_id
        |FROM canon GROUP BY 1, 2
        |ORDER BY canonical_url""".stripMargin),
    // the CHECKED capstone runs the near-dup stage with the skew cap —
    // the plan you'd actually run at corpus scale (cap mirrors
    // q_ngram_jaccard_capped; parity semantics = uncapped Jaccard)
    // The curation capstone oracle composes the already-verified quality /
    // exact-dedup / jaccard / lang-id CTEs into the same 5-stage funnel.
    Gate("q_curation_funnel", (s, d) => graft.ops.Curation.funnelCounts(
      Tables.documents(s, d), "doc_id", "text", minQuality = 0.5, n = 3,
      jaccardThreshold = 0.8, keepLangs = Seq("en", "de", "es", "fr"),
      nearDup = graft.ops.Curation.NearDup.Jaccard(Some(10L))))(
      funnelOracle(cappedShingleCtes + ",\n" + shinglePairCtes + """,
        |dup AS (SELECT DISTINCT id_j AS doc_id FROM pairs
        |        JOIN sizes sa ON sa.doc_id = id_i
        |        JOIN sizes sb ON sb.doc_id = id_j
        |        WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.8)""".stripMargin)),
    // same funnel on the sublinear MinHash+LSH candidate path — the
    // configuration a 100 TB corpus run would use; oracle recomputes the
    // banded signatures bit-identically
    // same funnel, near-dup stage = banded MinHash candidates (recomputed
    // bit-identically: one md5 per trigram shingle, 32-hash arithmetic
    // family, 8 bands of 4) verified with exact Jaccard
    Gate("q_curation_funnel_minhash", (s, d) =>
      graft.ops.Curation.funnelCounts(
        Tables.documents(s, d), "doc_id", "text", minQuality = 0.5, n = 3,
        jaccardThreshold = 0.8, keepLangs = Seq("en", "de", "es", "fr"),
        nearDup = graft.ops.Curation.NearDup.MinHashLsh(32, 8)))(
      funnelOracle(minhashBandCtes + ",\n" + minhashCommonCtes + """,
        |dup AS (SELECT DISTINCT id_j AS doc_id FROM common
        |        JOIN sizes sa ON sa.doc_id = id_i
        |        JOIN sizes sb ON sb.doc_id = id_j
        |        WHERE round(nc * 1.0 / (sa.n + sb.n - nc), 6) >= 0.8)""".stripMargin)),
    // the CCNet recipe end-to-end over the eval-split "incoming batch":
    // langId -> 5-gram LM perplexity head+middle -> 2-feature quality
    // classifier -> exact dedup, one funnel row per stage with doc AND
    // token accounting; LM trains on the train split, the classifier
    // on the labeled fixture
    // CCNet pipeline replay: the 5-gram LM chain + the classifier-2
    // training chain + the trigram langId chain composed over the
    // eval split, exact-thirds threshold, md5 keeper among stage-3
    // survivors, one conditional-sum aggregate unpivoted as UNION
    Gate("q_ccnet_pipeline", (s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val docs = Tables.documents(s, d)
      // the funnel chain (lang -> LM scoring -> classifier -> dedup
      // accounting) runs END-TO-END live here; only the train-side LM
      // count index is consumed from the per-JVM published artifact
      // (r17 — the production CCNet shape: the KenLM model is static)
      graft.ops.Curation.ccnetPipeline(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        Text.qualityFixture.toDF("doc_id", "y", "text"),
        "doc_id", "text", "y", "source",
        lmIndex = Some(lmIndexModel(s, d)))
    })(
      (ccnetFlagCtes + ",\n" +
      s"""a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(toks) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN p1 THEN toks ELSE 0 END) AS BIGINT)
        |      AS t1,
        |    CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(sum(CASE WHEN p1 AND p2 THEN toks ELSE 0 END)
        |      AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN toks ELSE 0 END)
        |      AS BIGINT) AS t3,
        |    CAST(sum(CASE WHEN p1 AND p2 AND p3 AND kp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(sum(CASE WHEN p1 AND p2 AND p3 AND kp
        |      THEN toks ELSE 0 END) AS BIGINT) AS t4
        |  FROM f2)
        |SELECT '0_input' AS stage, n0 AS n_docs, t0 AS n_tokens FROM a
        |UNION ALL SELECT '1_lang', n1, t1 FROM a
        |UNION ALL SELECT '2_ppl', n2, t2 FROM a
        |UNION ALL SELECT '3_classifier', n3, t3 FROM a
        |UNION ALL SELECT '4_exact_dedup', n4, t4 FROM a
        |ORDER BY stage""".stripMargin)),
    // the capstone "what ships to training" table: the ccnetPipeline
    // funnel's SURVIVORS (lang -> exact-thirds ppl -> classifier ->
    // exact-dedup keepers) waterfilled against the token budget and
    // EXECUTED as md5-lattice sampling rates — per source, surviving
    // docs/tokens, exact allocation, realized kept docs/tokens,
    // planned vs achieved rate (same gate params as q_mix_budget*)
    // capstone replay: the SAME flag CTEs select the funnel survivors,
    // then the q_mix_budget waterfill chain runs over them (fromTable =
    // surv) and the q_mix_budget_apply md5-lattice keep rule + rollup
    // executes the plan — every float the same expression over the
    // same operands in the same order as the Spark composition
    Gate("q_pipeline_mix", (s, d) =>
      // consumes the per-JVM PUBLISHED funnel-verdict flags (r17): the
      // checkpoint a production run materializes between the filter
      // funnel and the mix planner — the lang/LM/classifier chains
      // stay measured live in q_ccnet_pipeline over the same batch;
      // this gate measures the planner/apply composition they feed
      graft.ops.Curation.pipelineMixFromFlags(ccnetFlagsTable(s, d),
        "doc_id", tau = MixTau, budgetNum = MixBudgetNum,
        budgetDen = MixBudgetDen))(
      (ccnetFlagCtes + ",\n" +
      """surv AS (SELECT evd.doc_id, evd.source, evd.text
        |  FROM f2 JOIN evd USING (doc_id)
        |  WHERE f2.p1 AND f2.p2 AND f2.p3 AND f2.kp),
        |""".stripMargin +
      mixBudgetChainSql(MixTau, MixBudgetNum, MixBudgetDen,
        maxEpochs = 1, fromTable = "surv", withPrefix = "") +
      ",\n" + allocRateCte + """,
        |dk AS (SELECT sv.source, sv.doc_id,
        |    CAST(len(string_split(sv.text, ' ')) AS BIGINT) AS toks,
        |    pl.alloc_tokens,
        |    (CAST('0x' || substr(md5('mba_' || CAST(sv.doc_id
        |        AS VARCHAR)), 1, 15) AS BIGINT) % 1048576)
        |      < greatest(CAST(floor(pl.rate * 1048576) AS BIGINT),
        |                 least(pl.alloc_tokens, 1)) AS kp
        |  FROM surv sv JOIN pl ON pl.source = sv.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS surv_docs,
        |  CAST(sum(toks) AS BIGINT) AS surv_tokens,
        |  CAST(min(alloc_tokens) AS BIGINT) AS planned_tokens,
        |  CAST(sum(CASE WHEN kp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_docs,
        |  CAST(sum(CASE WHEN kp THEN toks ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  round(CAST(min(alloc_tokens) AS DOUBLE) / sum(toks), 6)
        |    AS planned_rate,
        |  round(CAST(sum(CASE WHEN kp THEN toks ELSE 0 END) AS DOUBLE)
        |    / sum(toks), 6) AS achieved_rate
        |FROM dk GROUP BY source ORDER BY source""".stripMargin)),
    // token-budget corpus fill: best-quality docs until the budget is
    // spent — scale-safe two-phase plan vs the oracle's naive global sort
    // the oracle is the NAIVE spelling (global quality sort + running
    // token sum); the engine's bucketed two-phase plan must match it
    Gate("q_token_budget", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
        .withColumn("toks", size(split(col("text"), " ")))
        .withColumn("qual", col("n_chars").cast("double") / col("toks"))
      graft.ops.Curation.tokenBudgetSubset(docs, "doc_id", "qual", "toks",
        budget = 15000L)
    })(
      """WITH b AS (
        |  SELECT doc_id AS id,
        |    round(CAST(n_chars AS DOUBLE)
        |          / len(string_split(text, ' ')), 6) AS q,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    md5('tbs_' || CAST(doc_id AS VARCHAR)) AS tie
        |  FROM documents),
        |d AS (SELECT *,
        |    CAST(sum(toks) OVER (ORDER BY q DESC, tie, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM b)
        |SELECT id AS doc_id, q, toks, cum, cum <= 15000 AS selected
        |FROM d ORDER BY doc_id""".stripMargin),
    // the pack-vs-pad decision table: per candidate context length,
    // padded per-doc batching (kept/truncated/padding tokens, util)
    // vs concatenated-stream packing (chunk count via exact integer
    // ceil, util) — all exact integers + two round-6 quotients
    // pack-vs-pad sweep replay: identical md5 pack-groups, exact
    // integer ceil via //, the two round-6 utilization quotients
    Gate("q_ctx_sweep", (s, d) => graft.ops.Curation.contextSweep(
      Tables.documents(s, d), "doc_id", "text",
      ctxs = Seq(32, 64, 128, 256)))(
      """WITH d AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 8 AS g,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents),
        |c AS (SELECT CAST(v AS BIGINT) AS ctx
        |      FROM (VALUES (32), (64), (128), (256)) AS x(v)),
        |pd AS (SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN t <= ctx THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_fit,
        |    CAST(sum(t) AS BIGINT) AS total_tokens,
        |    CAST(sum(least(t, ctx)) AS BIGINT) AS kept_tokens,
        |    CAST(sum(greatest(t - ctx, 0)) AS BIGINT)
        |      AS truncated_tokens,
        |    CAST(sum(ctx - least(t, ctx)) AS BIGINT) AS padding_tokens
        |  FROM d CROSS JOIN c GROUP BY 1),
        |pg AS (SELECT ctx,
        |    CAST(sum((gt + ctx - 1) // ctx) AS BIGINT) AS n_streams
        |  FROM (SELECT g, CAST(sum(t) AS BIGINT) AS gt
        |        FROM d GROUP BY 1) gg CROSS JOIN c
        |  GROUP BY 1)
        |SELECT pd.ctx, n_docs, n_fit, total_tokens, kept_tokens,
        |  truncated_tokens, padding_tokens,
        |  round(CAST(kept_tokens AS DOUBLE) / (n_docs * pd.ctx), 6)
        |    AS pad_util,
        |  n_streams,
        |  round(CAST(total_tokens AS DOUBLE) / (n_streams * pd.ctx), 6)
        |    AS packed_util
        |FROM pd JOIN pg ON pd.ctx = pg.ctx
        |ORDER BY pd.ctx""".stripMargin),
    // the data-loader manifest: curriculum by token count (short docs
    // first — the classic warm-up), 4 exact-integer ECDF stages,
    // seeded md5 shuffle within each stage; the gate's total ORDER BY
    // IS the training read order
    // curriculum manifest replay: exact-integer ECDF quartile cuts over
    // the token count, seeded md5 shuffle key, the ORDER BY is the
    // training read order itself
    Gate("q_training_order", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.ops.Curation.trainingOrder(docs, "doc_id", "n_tokens",
        nStages = 4, seed = "cur1")
    })(
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS score
        |  FROM documents),
        |e AS (SELECT score AS v, CAST(count(*) AS BIGINT) AS c
        |      FROM d WHERE score IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v,
        |    sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    sum(c) OVER () AS n
        |  FROM e),
        |thr AS (SELECT
        |    min(CASE WHEN cm * 4 >= n * 1 THEN v END) AS t1,
        |    min(CASE WHEN cm * 4 >= n * 2 THEN v END) AS t2,
        |    min(CASE WHEN cm * 4 >= n * 3 THEN v END) AS t3
        |  FROM cum)
        |SELECT d.doc_id, d.score,
        |  CAST(CASE WHEN d.score IS NULL THEN 0 ELSE 1
        |    + (CASE WHEN d.score > t1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN d.score > t2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN d.score > t3 THEN 1 ELSE 0 END) END AS INT)
        |    AS stage,
        |  CAST('0x' || substr(md5('cur1_' || CAST(doc_id AS VARCHAR)),
        |    1, 15) AS BIGINT) AS shuffle_key
        |FROM d CROSS JOIN thr
        |ORDER BY stage, shuffle_key, doc_id""".stripMargin),
    // boilerplate screen: documents sharing their first 8 tokens
    // prefix-duplicate groups: first 8 whitespace tokens verbatim
    Gate("q_prefix_dup", (s, d) => graft.ops.Curation.prefixDupGroups(
      Tables.documents(s, d), "doc_id", "text", k = 8))(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |p AS (SELECT doc_id, array_to_string(t[1:8], ' ') AS prefix
        |      FROM t)
        |SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS min_doc
        |FROM p GROUP BY prefix HAVING count(*) > 1
        |ORDER BY prefix""".stripMargin),
    // per-source corpus health report (count, dup involvement, length,
    // language mix)
    // per-source health report: corpus-wide dup digests, length, lang mix
    Gate("q_source_report", (s, d) => graft.ops.Curation.sourceReport(
      Tables.documents(s, d), "doc_id", "text", "source", "lang", "en"))(
      """WITH d AS (SELECT doc_id, source, lang,
        |             CAST(length(text) AS DOUBLE) AS len, md5(text) AS dg
        |           FROM documents),
        |dup AS (SELECT dg FROM d GROUP BY dg HAVING count(*) > 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup.dg IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_docs,
        |  round(avg(len), 2) AS avg_chars,
        |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4)
        |    AS pct_en
        |FROM d LEFT JOIN dup ON d.dg = dup.dg
        |GROUP BY source ORDER BY source""".stripMargin),
    // deterministic 5-fold split balance report (md5 fold assignment)
    // k-fold balance: same md5 grid as q_hash_sample, mod 5
    Gate("q_kfold", (s, d) => graft.ops.Curation.kfoldReport(
      Tables.documents(s, d), "doc_id", "text", "lang", "en", k = 5,
      seed = "cv0"))(
      """SELECT CAST(CAST('0x' || substr(md5('cv0_' ||
        |           CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 5
        |         AS INTEGER) AS fold,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(CAST(length(text) AS DOUBLE)), 2) AS avg_chars,
        |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4)
        |    AS pct_en
        |FROM documents GROUP BY 1 ORDER BY fold""".stripMargin),
  )

  /** The call parameters of the q_mix_budget* gates — read by
    * BOTH the query lambdas and the oracle generator, so changing the
    * gate's configuration regenerates the oracle in lockstep (the
    * lshCalibrateOracle discipline; a hardcoded oracle would silently
    * diverge only at gate time).
    */
  private val MixTau = 0.25

  private val MixBudgetNum = 19L

  private val MixBudgetDen = 20L

  private val MixMaxEpochs = 1

  /** The waterfilling CTE chain (through `w5`) generated from the gate
    * parameters: per-source token totals over `fromTable`, tempered
    * weights with pinned-order folds, the saturation sort,
    * prefix-exclusive cumulative caps/weights, the capped test and the
    * first-uncapped fill level. q_mix_budget appends the plan select;
    * q_mix_budget_apply appends the md5-bucket execution and
    * planned-vs-achieved rollup; q_pipeline_mix rides it over the
    * funnel-survivor CTE.
    */
  private def mixBudgetChainSql(tau: Double, budgetNum: Long,
                                budgetDen: Long, maxEpochs: Int,
                                fromTable: String = "documents",
                                withPrefix: String = "WITH "): String = {
    val pt = tau match {
      case 1.0  => "sh"
      case 0.5  => "sqrt(sh)"
      case 0.25 => "sqrt(sqrt(sh))"
      case 0.75 => "sqrt(sh) * sqrt(sqrt(sh))"
    }
    s"""${withPrefix}mbper AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM $fromTable GROUP BY 1),
      |mbt AS (SELECT mbper.*,
      |        (SELECT CAST(sum(n_tokens) AS BIGINT) FROM mbper) AS nn
      |      FROM mbper),
      |mbp0 AS (SELECT *, CAST(n_tokens AS DOUBLE) / nn AS sh FROM mbt),
      |mbp AS (SELECT *, $pt AS pt FROM mbp0),
      |mbw AS (SELECT *,
      |        pt / sum(pt) OVER (ORDER BY source
      |          ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND UNBOUNDED FOLLOWING) AS wt
      |      FROM mbp),
      |mbw2 AS (SELECT *,
      |        sum(wt) OVER (ORDER BY source
      |          ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND UNBOUNDED FOLLOWING) AS wtot,
      |        CAST(floor(nn * $budgetNum / $budgetDen.0) AS BIGINT)
      |          AS bb,
      |        CAST(n_tokens * $maxEpochs AS BIGINT) AS cap_tokens,
      |        CAST(n_tokens * $maxEpochs AS BIGINT)
      |          / wt AS sat
      |      FROM mbw),
      |mbw3 AS (SELECT *,
      |        CAST(sum(cap_tokens) OVER (ORDER BY sat, source
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) - cap_tokens AS pc,
      |        sum(wt) OVER (ORDER BY sat, source
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          - wt AS pw
      |      FROM mbw2),
      |mbw4 AS (SELECT *,
      |        CAST(bb - pc AS DOUBLE) / (wtot - pw) AS lam,
      |        CAST(bb - pc AS DOUBLE) / (wtot - pw) >= sat AS capped
      |      FROM mbw3),
      |mbw5 AS (SELECT *,
      |        max(CASE WHEN NOT capped THEN lam END) OVER () AS lev
      |      FROM mbw4)""".stripMargin
  }

  /** The IPF raking weight chain as composable CTEs (ends at
    * w{2·rounds}) — shared by q_raking and the q_ess design-effect
    * tail.
    */
  private def rakeCtes(rounds: Int): String = {
    val half = (1 to rounds).map { k =>
      val p = 2 * (k - 1)
      s"""rs$k AS (SELECT r, sum(n * w) AS rs FROM w$p GROUP BY 1),
         |w${p + 1} AS (SELECT w$p.r, w$p.c, w$p.n, w$p.nn, w$p.tr,
         |    w$p.tc, round(w$p.w * (w$p.tr / rs$k.rs), 9) AS w
         |  FROM w$p JOIN rs$k ON rs$k.r = w$p.r),
         |cs$k AS (SELECT c, sum(n * w) AS cs FROM w${p + 1}
         |  GROUP BY 1),
         |w${p + 2} AS (SELECT w${p + 1}.r, w${p + 1}.c, w${p + 1}.n,
         |    w${p + 1}.nn, w${p + 1}.tr, w${p + 1}.tc,
         |    round(w${p + 1}.w * (w${p + 1}.tc / cs$k.cs), 9) AS w
         |  FROM w${p + 1} JOIN cs$k ON cs$k.c = w${p + 1}.c)"""
        .stripMargin
    }.mkString(",\n")
    s"""cells AS (SELECT source AS r, lang AS c,
       |    CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn,
       |    CAST(count(DISTINCT r) AS DOUBLE) AS nr,
       |    CAST(count(DISTINCT c) AS DOUBLE) AS nc FROM cells),
       |w0 AS (SELECT r, c, n, nn, nn / nr AS tr, nn / nc AS tc,
       |    CAST(1.0 AS DOUBLE) AS w FROM cells, t),
       |$half""".stripMargin
  }

  /** Unrolled-CTE oracle for q_raking: cells, targets, then `rounds`
    * IPF alternations (row scale, col scale), each half-round one
    * bounded groupBy + a 1e-9-rounded rescale — the rakeWeights
    * iterative discipline replayed.
    */
  private def rakeOracle(rounds: Int): String =
    s"""WITH ${rakeCtes(rounds)}
       |SELECT r AS source, c AS lang, n AS n_docs,
       |  round(w, 6) AS weight,
       |  round(n * w / nn, 6) AS weighted_share,
       |  round(sum(n * w) OVER (PARTITION BY r) / nn, 6) AS row_share,
       |  round(sum(n * w) OVER (PARTITION BY c) / nn, 6) AS col_share
       |FROM w${2 * rounds} ORDER BY source, lang""".stripMargin

  /** The q_ess oracle: the raking chain's published round-6 weights,
    * integer-micros quantization (exact long sums; HUGEINT squares =
    * Spark's decimal path), Kish ESS per source.
    */
  private def essOracle(rounds: Int): String =
    s"""WITH ${rakeCtes(rounds)},
       |fw AS (SELECT r AS grp, n,
       |    CAST(round(round(w, 6) * 1000000) AS BIGINT) AS mw
       |  FROM w${2 * rounds}),
       |g AS (SELECT grp, CAST(sum(n) AS BIGINT) AS n_rows,
       |    CAST(sum(n * mw) AS BIGINT) AS snm,
       |    sum(CAST(n AS HUGEINT) * mw * mw) AS snm2
       |  FROM fw GROUP BY 1),
       |e AS (SELECT grp, n_rows,
       |    (CAST(snm AS DOUBLE) * CAST(snm AS DOUBLE))
       |      / CAST(snm2 AS DOUBLE) AS ess
       |  FROM g)
       |SELECT grp AS source, n_rows, round(ess, 6) AS ess,
       |  round(ess / n_rows, 6) AS ess_ratio,
       |  round(n_rows / ess, 6) AS design_effect
       |FROM e ORDER BY source""".stripMargin

  /** The CCNet funnel's per-doc stage-flag frame (id, __src, __dig,
    * __tok, p1..p3 — parquet-exact types), published: the checkpoint a
    * production curation run materializes between the filter funnel and
    * the mix planner, so the capstone consumes a persisted funnel
    * verdict instead of re-running the lang/LM/classifier chains. The
    * funnel chain stays measured LIVE in q_ccnet_pipeline (end-to-end
    * over the same batch).
    */
  private def ccnetFlagsTable(s: SparkSession, d: String): DataFrame =
    published(s, d, "ccnet_flags_pub") {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val docs = Tables.documents(s, d)
      graft.ops.Curation.ccnetFlagsFrame(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        Text.qualityFixture.toDF("doc_id", "y", "text"),
        "doc_id", "text", "y", "source",
        lmIndex = Some(lmIndexModel(s, d)))
    }

  /** [[graft.ops.Curation.funnelCounts]] (min quality 0.5, langs
    * en/de/es/fr): the heuristic quality gate `aq`, the exact-dedup
    * keepers `ae` and their tokens, then `nearDup` — CTEs ending in
    * `dup(doc_id)`, the near-duplicates to drop — then [[langKeepCte]]
    * and one count row per stage.
    */
  private def funnelOracle(nearDup: String): String =
    """WITH qual AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      greatest(least(
      |        (CASE WHEN len(string_split(text,' ')) BETWEEN 5 AND 1000
      |              THEN 0.4 ELSE 0.0 END)
      |        + (CASE WHEN length(replace(text,' ','')) * 1.0
      |                 / greatest(len(string_split(text,' ')), 1)
      |                 BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
      |        + (CASE WHEN len(list_filter(string_split(lower(text),' '),
      |                 x -> x IN ('the','a','of','and','is','in','to')))
      |                 * 1.0 / greatest(len(string_split(text,' ')), 1)
      |                 >= 0.01 THEN 0.3 ELSE 0.0 END)
      |        - (CASE WHEN len(regexp_extract_all(text, '[[:punct:]]'))
      |                 * 1.0 / greatest(length(text), 1) > 0.2
      |                 THEN 0.2 ELSE 0.0 END)
      |        - (CASE WHEN len(regexp_extract_all(text, '[0-9]'))
      |                 * 1.0 / greatest(length(text), 1) > 0.2
      |                 THEN 0.2 ELSE 0.0 END),
      |        1.0), 0.0) AS quality
      |    FROM documents)
      |  WHERE round(quality, 6) >= 0.5),
      |aq AS (SELECT d.* FROM documents d JOIN qual USING (doc_id)),
      |ke AS (SELECT min(doc_id) AS doc_id FROM aq GROUP BY md5(text)),
      |ae AS (SELECT aq.* FROM aq JOIN ke USING (doc_id)),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ae),
      |""".stripMargin + nearDup + """,
      |an AS (SELECT ae.* FROM ae
      |       WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
      |""".stripMargin + langKeepCte + """
      |al AS (SELECT an.* FROM an JOIN lang USING (doc_id))
      |SELECT '0_input' AS stage, count(*) AS n_docs FROM documents
      |UNION ALL SELECT '1_quality', count(*) FROM aq
      |UNION ALL SELECT '2_exact_dedup', count(*) FROM ae
      |UNION ALL SELECT '3_near_dedup', count(*) FROM an
      |UNION ALL SELECT '4_lang', count(*) FROM al
      |ORDER BY stage""".stripMargin

  /** [[graft.ops.Curation.mixBudgetApply]]'s per-source plan over the
    * waterfill result `mbw5`: the allocated tokens and the sampling rate
    * they imply, `pl(source, alloc_tokens, rate)`.
    */
  private lazy val allocRateCte: String =
    """pl AS (SELECT source,
      |    CASE WHEN capped THEN cap_tokens
      |         ELSE CAST(round(lev * wt, 0) AS BIGINT) END
      |      AS alloc_tokens,
      |    CAST(CASE WHEN capped THEN cap_tokens
      |         ELSE CAST(round(lev * wt, 0) AS BIGINT) END AS DOUBLE)
      |      / n_tokens AS rate
      |  FROM mbw5)""".stripMargin

  /** The curation funnel's language-keep CTE over the near-dedup
    * survivors `an`: keep docs whose trigram prediction is in the
    * en/de/es/fr keep set — Curation's pass_lang replay.
    */
  private lazy val langKeepCte: String =
    s"""lang AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, tl,
       |      ${triHitSql(Text.triEn)} AS s_en,
       |      ${triHitSql(Text.triDe)} AS s_de,
       |      ${triHitSql(Text.triEs)} AS s_es,
       |      ${triHitSql(Text.triFr)} AS s_fr
       |    FROM (SELECT doc_id, lower(text) AS tl FROM an))
       |  WHERE CASE
       |    WHEN regexp_matches(tl, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |    WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
       |    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |    ELSE 'fr' END IN ('en', 'de', 'es', 'fr')),""".stripMargin

  /** The shared CCNet flag CTE prefix (the 5-gram LM chain + the
    * classifier-2 training chain + the eval-split langId chain +
    * exact-thirds threshold + per-doc stage flags + md5 keepers +
    * the keeper-joined f2 frame) behind the q_ccnet_pipeline and
    * q_pipeline_mix oracles — ONE text so the funnel gate and the
    * capstone gate can never drift apart.
    */
  private def ccnetFlagCtes: String = lm5gramChainSql + ",\n" +
    classifier2TrainCtes(4096, 4) + ",\n" +
    s"""evd AS (SELECT doc_id, source, text FROM documents
        |        WHERE doc_id % 7 = 0),
        |${langScoreCtes("evd", "doc_id")},
        |ppl AS (SELECT ev.doc_id,
        |    round(exp(-(pd.lp / pd.n_5grams)), 6) AS ppl
        |  FROM ev LEFT JOIN pd USING (doc_id)),
        |nnr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppl
        |        WHERE ppl IS NOT NULL),
        |cume AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT ppl AS v, CAST(count(*) AS BIGINT) AS c
        |        FROM ppl WHERE ppl IS NOT NULL GROUP BY 1)),
        |thr AS (SELECT
        |    min(CASE WHEN cum * 3 >= nnr.n * 2 THEN v END) AS t2
        |  FROM cume CROSS JOIN nnr),
        |evc AS (SELECT doc_id AS id, source, text FROM evd),
        |${classifier2ScoreCtes("evc", 4096)},
        |flags AS (SELECT evd.doc_id,
        |    md5(COALESCE(evd.text, '')) AS dig,
        |    CAST(len(string_split(evd.text, ' ')) AS BIGINT) AS toks,
        |    (lpr.pred_lang = 'en') AS p1,
        |    (ppl.ppl IS NOT NULL AND ppl.ppl <= thr.t2) AS p2,
        |    COALESCE(scored.score > 0.5, FALSE) AS p3
        |  FROM evd
        |  JOIN lpr ON lpr.doc_id = evd.doc_id
        |  LEFT JOIN ppl ON ppl.doc_id = evd.doc_id
        |  LEFT JOIN scored ON scored.id = evd.doc_id
        |  CROSS JOIN thr),
        |keepers AS (SELECT min(doc_id) AS kid FROM flags
        |            WHERE p1 AND p2 AND p3 GROUP BY dig),
        |f2 AS (SELECT flags.*, (keepers.kid IS NOT NULL) AS kp
        |  FROM flags LEFT JOIN keepers ON keepers.kid = flags.doc_id)""".stripMargin
}
