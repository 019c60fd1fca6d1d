package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Text

/** Plan and oracle helpers used by the gates of more than one family. */
private[gates] object Shared {
  /** The shared scored-corpus fixture behind every model-evaluation gate
    * (q_eval_classify / q_confusion / q_roc_auc / q_calibration /
    * q_brier): scoreLinear with the demo md5 weights plus the odd-label
    * truth column. ONE definition so the scoring config can't drift
    * between gates — its five oracle CTEs spell the identical recipe.
    */
  def scoredDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.ops.Models.scoreLinear(Tables.embeddings(s, d), "vec_id",
      "embedding", Seq("label"),
      graft.ops.Models.md5Weights(s, "demo", 64), bias = 0.1)
      .withColumn("actual", col("label") % 2 === 1)
  }

  /** Shared q_bpe_* training chain: words → char state s0 → `rounds`
    * merge blocks, ending with a trailing comma-ready block list. */
  def bpeChainSql(rounds: Int): String = {
    val roundBlocks = (1 to rounds).map { r =>
      val p = r - 1
      s"""p$r AS MATERIALIZED (
         |  SELECT a.sym AS l, b.sym AS rr, CAST(sum(a.freq) AS BIGINT) AS cnt
         |  FROM s$p a JOIN s$p b ON a.wid = b.wid AND b.pos = a.pos + 1
         |  GROUP BY a.sym, b.sym),
         |t$r AS MATERIALIZED (SELECT l, rr, cnt FROM p$r ORDER BY cnt DESC, l, rr LIMIT 1),
         |c$r AS MATERIALIZED (
         |  SELECT a.wid, a.pos,
         |         row_number() OVER (PARTITION BY a.wid ORDER BY a.pos) AS rn
         |  FROM s$p a JOIN s$p b ON a.wid = b.wid AND b.pos = a.pos + 1
         |  CROSS JOIN t$r t WHERE a.sym = t.l AND b.sym = t.rr),
         |k$r AS MATERIALIZED (
         |  SELECT wid, pos FROM (
         |    SELECT wid, pos,
         |           row_number() OVER (PARTITION BY wid, pos - rn
         |                              ORDER BY pos) AS ri
         |    FROM c$r) WHERE ri % 2 = 1),
         |s$r AS MATERIALIZED (
         |  SELECT wid, freq,
         |         row_number() OVER (PARTITION BY wid ORDER BY pos) - 1 AS pos,
         |         sym
         |  FROM (
         |    SELECT a.wid, a.freq, a.pos,
         |           CASE WHEN k.pos IS NOT NULL THEN t.l || t.rr
         |                ELSE a.sym END AS sym
         |    FROM s$p a
         |    CROSS JOIN t$r t
         |    LEFT JOIN k$r k ON a.wid = k.wid AND a.pos = k.pos
         |    WHERE NOT EXISTS (SELECT 1 FROM k$r k2
         |                      WHERE k2.wid = a.wid AND k2.pos = a.pos - 1)))""".stripMargin
    }
    s"""WITH words AS MATERIALIZED (
       |  SELECT t.w AS w, CAST(count(*) AS BIGINT) AS freq
       |  FROM documents d,
       |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
       |  GROUP BY t.w),
       |s0 AS MATERIALIZED (
       |  SELECT w.w AS wid, w.freq, i.i AS pos,
       |         substr(w.w, CAST(i.i + 1 AS INTEGER), 1) AS sym
       |  FROM words w CROSS JOIN UNNEST(range(len(w.w))) AS i(i)),
       |${roundBlocks.mkString(",\n")}""".stripMargin
  }

  /** Shared q_unigram_* chain: words → substring seed (ALL single chars
    * + top-200 multi-char with weighted count ≥ 2, count-desc/piece-asc)
    * → `rounds` hard-EM rounds. Each round is the relational replay of
    * the Spark HOF folds: a RECURSIVE Viterbi DP carrying the last four
    * best-log-probs as window columns (udp — standard SQL cannot
    * otherwise express a sequential DP), a flattened (wid, pos, best)
    * view (ud), the chosen-edge table (ue — smallest k whose candidate
    * equals the recorded best, via row_number; the forward greatest
    * returns one of its inputs bit-exactly, so a match always exists
    * and the tie resolves to the shortest piece, the Spark backtrace's
    * order), a RECURSIVE backtrace walk (ubt), Viterbi-weighted counts
    * (ucnt) and the renormalized vocab (uv — single chars floored at
    * count 1, zero-count multi-char pieces pruned). `encodePass` adds
    * round `rounds`+1's ul/udp/ud/ue/ubt against the FINAL vocab (the
    * segmentation pass, no count update); `emitWords` = false drops the
    * WITH prefix and words CTE for composition after [[bpeChainSql]],
    * whose words CTE is identical.
    */
  def unigramChainSql(rounds: Int, encodePass: Boolean,
                              emitWords: Boolean): String = {
    val last = rounds + (if (encodePass) 1 else 0)
    val roundBlocks = (1 to last).map { r =>
      val p = r - 1
      val em =
        s""",
           |ucnt$r AS MATERIALIZED (
           |  SELECT e.piece, CAST(sum(w.freq) AS BIGINT) AS cnt
           |  FROM ubt$r b
           |  JOIN ue$r e ON e.wid = b.wid AND e.pos = b.pos
           |  JOIN words w ON w.w = b.wid
           |  WHERE b.pos > 0
           |  GROUP BY e.piece),
           |uv$r AS MATERIALIZED (
           |  SELECT c.piece,
           |         greatest(coalesce(u.cnt, CAST(0 AS BIGINT)),
           |                  CAST(1 AS BIGINT)) AS cnt
           |  FROM (SELECT piece FROM uv0 WHERE len(piece) = 1) c
           |  LEFT JOIN ucnt$r u ON u.piece = c.piece
           |  UNION ALL
           |  SELECT piece, cnt FROM ucnt$r WHERE len(piece) > 1)""".stripMargin
      s"""ul$r AS MATERIALIZED (
         |  SELECT piece, round(ln(cnt) -
         |    ln((SELECT CAST(sum(cnt) AS DOUBLE) FROM uv$p)), 6) AS lp
         |  FROM uv$p),
         |udp$r AS (
         |  SELECT w.w AS wid, 0 AS i, CAST(0.0 AS DOUBLE) AS b0,
         |         CAST(NULL AS DOUBLE) AS b1, CAST(NULL AS DOUBLE) AS b2,
         |         CAST(NULL AS DOUBLE) AS b3
         |  FROM words w
         |  UNION ALL
         |  SELECT d.wid, d.i + 1,
         |    greatest(
         |      d.b0 + l1.lp,
         |      CASE WHEN d.i >= 1 THEN d.b1 + l2.lp END,
         |      CASE WHEN d.i >= 2 THEN d.b2 + l3.lp END,
         |      CASE WHEN d.i >= 3 THEN d.b3 + l4.lp END),
         |    d.b0, d.b1, d.b2
         |  FROM udp$r d
         |  LEFT JOIN ul$r l1 ON l1.piece = substr(d.wid, d.i + 1, 1)
         |  LEFT JOIN ul$r l2 ON d.i >= 1 AND l2.piece = substr(d.wid, d.i, 2)
         |  LEFT JOIN ul$r l3
         |    ON d.i >= 2 AND l3.piece = substr(d.wid, d.i - 1, 3)
         |  LEFT JOIN ul$r l4
         |    ON d.i >= 3 AND l4.piece = substr(d.wid, d.i - 2, 4)
         |  WHERE d.i < len(d.wid)),
         |ud$r AS MATERIALIZED (SELECT wid, i, b0 AS best FROM udp$r),
         |ue$r AS MATERIALIZED (
         |  SELECT wid, pos, k, piece FROM (
         |    SELECT dd.wid, dd.i AS pos, kk.k,
         |           substr(dd.wid, dd.i - kk.k + 1, kk.k) AS piece,
         |           row_number() OVER (PARTITION BY dd.wid, dd.i
         |                              ORDER BY kk.k) AS rn
         |    FROM ud$r dd
         |    CROSS JOIN (SELECT CAST(k0 + 1 AS INTEGER) AS k
         |                FROM UNNEST(range(4)) t(k0)) kk
         |    JOIN ud$r pp ON pp.wid = dd.wid AND pp.i = dd.i - kk.k
         |    JOIN ul$r ll
         |      ON ll.piece = substr(dd.wid, dd.i - kk.k + 1, kk.k)
         |    WHERE dd.i > 0 AND pp.best + ll.lp = dd.best)
         |  WHERE rn = 1),
         |ubt$r AS (
         |  SELECT w.w AS wid, len(w.w) AS pos FROM words w
         |  UNION ALL
         |  SELECT b.wid, b.pos - e.k FROM ubt$r b
         |  JOIN ue$r e ON e.wid = b.wid AND e.pos = b.pos
         |  WHERE b.pos > 0)${if (r <= rounds) em else ""}""".stripMargin
    }
    val wordsCte =
      if (emitWords)
        """WITH RECURSIVE words AS MATERIALIZED (
          |  SELECT t.w AS w, CAST(count(*) AS BIGINT) AS freq
          |  FROM documents d,
          |       UNNEST(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
          |  GROUP BY t.w),
          |""".stripMargin
      else ""
    s"""${wordsCte}useed AS MATERIALIZED (
       |  SELECT substr(w.w, CAST(i.i + 1 AS INTEGER),
       |                CAST(k.k0 + 1 AS INTEGER)) AS piece,
       |         CAST(sum(w.freq) AS BIGINT) AS cnt
       |  FROM words w
       |  CROSS JOIN UNNEST(range(4)) AS k(k0)
       |  CROSS JOIN UNNEST(range(len(w.w))) AS i(i)
       |  WHERE i.i + k.k0 + 1 <= len(w.w)
       |  GROUP BY 1),
       |uv0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM useed WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM useed
       |    WHERE len(piece) > 1 AND cnt >= 2
       |    ORDER BY cnt DESC, piece LIMIT 200)),
       |${roundBlocks.mkString(",\n")}""".stripMargin
  }

  /** LSH S-curve calibrator replay: the same repeated-squaring chains
    * as [[graft.ops.Dedup.lshCalibrate]], materialized LINEARLY as
    * chained CTE columns (s0, s1 = s0·s0, …; then the variable
    * exponent is a CASE over the log-bounded split list), dyadic grid
    * literals, pinned-order mass folds, final /G exact scaling.
    */
  def lshCalibrateOracle(numHashes: Int, threshold: Double,
                                 gridLog2: Int): String = {
    val g = 1 << gridLog2
    val log2n = java.lang.Integer.numberOfTrailingZeros(numHashes)
    val pairs = (0 to log2n).map(e => (1 << e, numHashes >> e))
    val pairValues = pairs.map { case (b, r) => s"($b, $r)" }
      .mkString(", ")
    val gridValues = (1 to g).map { i =>
      val s = (BigDecimal(2 * i - 1) / BigDecimal(2 * g)).toString
      s"($i, $s)"
    }.mkString(",\n      ")
    // each squaring step is its own CTE so the value chain is the same
    // sequential rounding as the Spark fold
    val sCtes = (1 to log2n).map { k =>
      s"sq$k AS (SELECT *, v${k - 1} * v${k - 1} AS v$k FROM sq${k - 1})"
    }.mkString(",\n    ")
    val qCtes = (1 to log2n).map { k =>
      s"qq$k AS (SELECT *, w${k - 1} * w${k - 1} AS w$k FROM qq${k - 1})"
    }.mkString(",\n    ")
    val tCtes = (1 to log2n).map { k =>
      s"tq$k AS (SELECT *, u${k - 1} * u${k - 1} AS u$k FROM tq${k - 1})"
    }.mkString(",\n    ")
    val uCtes = (1 to log2n).map { k =>
      s"uq$k AS (SELECT *, x${k - 1} * x${k - 1} AS x$k FROM uq${k - 1})"
    }.mkString(",\n    ")
    def caseOver(sel: String, pfx: String, values: Seq[Int]): String =
      "CASE " + values.map { v =>
        val k = java.lang.Integer.numberOfTrailingZeros(v)
        s"WHEN $sel = $v THEN $pfx$k"
      }.mkString(" ") + " END"
    val rVals = pairs.map(_._2)
    val bVals = pairs.map(_._1)
    s"""WITH pairs(b, r) AS (VALUES $pairValues),
       |grid(i, s) AS (VALUES
       |      $gridValues),
       |sq0 AS (SELECT b, r, i, CAST(s AS DOUBLE) AS s,
       |          CAST(s AS DOUBLE) AS v0 FROM pairs CROSS JOIN grid),
       |    $sCtes,
       |qq0 AS (SELECT *, 1.0 - (${caseOver("r", "v", rVals)}) AS w0
       |        FROM sq$log2n),
       |    $qCtes,
       |pg AS (SELECT b, r, i, s,
       |         1.0 - (${caseOver("b", "w", bVals)}) AS p
       |       FROM qq$log2n),
       |cum AS (SELECT b, r, i,
       |    sum(CASE WHEN s < $threshold THEN p ELSE 0.0 END)
       |      OVER (PARTITION BY b ORDER BY i
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp,
       |    sum(CASE WHEN s >= $threshold THEN 1.0 - p ELSE 0.0 END)
       |      OVER (PARTITION BY b ORDER BY i
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfn
       |  FROM pg),
       |fin AS (SELECT b, r, cfp, cfn, (cfp + cfn) / $g AS err
       |        FROM cum WHERE i = $g),
       |tq0 AS (SELECT b, r, CAST($threshold AS DOUBLE) AS u0 FROM pairs),
       |    $tCtes,
       |uq0 AS (SELECT *, 1.0 - (${caseOver("r", "u", rVals)}) AS x0
       |        FROM tq$log2n),
       |    $uCtes,
       |pt AS (SELECT b, 1.0 - (${caseOver("b", "x", bVals)}) AS p_t
       |       FROM uq$log2n),
       |rk AS (SELECT fin.*, pt.p_t,
       |         row_number() OVER (ORDER BY fin.err, fin.b) AS rn
       |       FROM fin JOIN pt ON pt.b = fin.b)
       |SELECT b, r, round(p_t, 6) AS p_at_threshold,
       |  round(cfp / $g, 6) AS fp_mass,
       |  round(cfn / $g, 6) AS fn_mass,
       |  round(err, 6) AS total_err,
       |  rn = 1 AS chosen
       |FROM rk ORDER BY b""".stripMargin
  }

  /** A parquet parameter table published through [[Artifacts]]: built
    * from `params` (via [[graft.ops.Models.saveModel]], never a driver
    * collect) the first time any gate asks for artifact `name` over sf
    * dir `d`, and loaded from disk by every consumer after that —
    * exactly how a 100 TB pipeline checkpoints between stages.
    */
  def published(s: SparkSession, d: String, name: String)(
      params: => DataFrame): DataFrame =
    graft.ops.Models.loadModel(s,
      Artifacts.publish(name, d)(graft.ops.Models.saveModel(params, _)))

  /** The 5-gram LM count index (n = 1..5 long-format count tables over
    * the % 7 != 0 train split), published — the KenLM production shape
    * the r15 published-LM surface built: the model is a STATIC artifact
    * trained once; scorers, bucketing and the CCNet funnel consume the
    * parquet parameter table instead of re-tokenizing the train corpus
    * per gate. Bit-identity of index-path vs inline scoring is
    * spec-pinned (PipelineOpsSpec A/B + parquet round trip); the index
    * BUILD chain stays measured live in q_lm_5gram (order 5),
    * q_lm_trigram (order 3) and q_lm_index_merge (the lifecycle rebuild
    * over its own subsets).
    */
  def lmIndexModel(s: SparkSession, d: String): DataFrame =
    published(s, d, "lm_index_pub") {
      import org.apache.spark.sql.functions.col
      Text.lmCountIndex(
        Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0), "text")
    }

  /** Published unigram vocab parameter table: q_unigram_train keeps the
    * EM chain measured live; q_unigram_encode / q_tokenizer_compare
    * consume the parquet artifact.
    */
  def unigramVocabModel(s: SparkSession, d: String): DataFrame =
    published(s, d, "unigram_vocab")(Text.unigramTrain(
      Tables.documents(s, d), "doc_id", "text",
      rounds = 3, maxPieceLen = 4, seedSize = 200, minCount = 2L))

  /** DuckDB IN-list literal of a trigram profile — built from the SAME
    * Text.tri* Seq the Scala classifier evaluates, so the two engines
    * cannot drift.
    */
  def triIn(p: Seq[String]): String =
    p.map(t => s"'$t'").mkString(",")

  /** Per-language trigram hit count over a lowered text column `tl` —
    * the [[Text]] triHits replay: positions 1..len-2 (DuckDB range
    * end-exclusive), substr(tl, i, 3) ∈ profile.
    */
  def triHitSql(profile: Seq[String]): String =
    s"""CAST(len(list_filter(range(1, greatest(length(tl) - 1, 1)),
       |    i -> substr(tl, CAST(i AS INTEGER), 3) IN
       |      (${triIn(profile)}))) AS INTEGER)""".stripMargin

  /** The trigram langId scoring chain over relation `src` (must expose
    * `text` + the passthrough columns): CTEs lsc (lowered) and lsg
    * (s_en..s_fr + pred_lang). CJK short-circuit, unknown on zero
    * hits, precedence tiebreak en > de > es > fr — Text.predLangExpr
    * verbatim.
    */
  def langScoreCtes(src: String, passCols: String): String =
    s"""lsc AS (SELECT $passCols, lower(text) AS tl FROM $src),
       |lsg AS (SELECT $passCols, tl,
       |  ${triHitSql(Text.triEn)} AS s_en,
       |  ${triHitSql(Text.triDe)} AS s_de,
       |  ${triHitSql(Text.triEs)} AS s_es,
       |  ${triHitSql(Text.triFr)} AS s_fr
       |  FROM lsc),
       |lpr AS (SELECT $passCols, tl, s_en, s_de, s_es, s_fr,
       |  CASE WHEN regexp_matches(tl, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
       |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |       ELSE 'fr' END AS pred_lang
       |  FROM lsg)""".stripMargin

  /** Text.qualityFixture as a DuckDB VALUES literal (id, y, text) —
    * same Seq the Scala gate trains on.
    */
  def qualityFixtureValues: String =
    Text.qualityFixture
      .map { case (i, y, t) => s"($i, $y, '$t')" }
      .mkString(",\n      ")

  /** Classifier-2 TRAINING chain as composable CTEs (fixture grams →
    * bucket weights `w` → exact-micro features → moments `stm` →
    * fixed-round Newton → published `bfin`) — shared by
    * q_quality_classifier2 and the q_ccnet_pipeline composition.
    */
  def classifier2TrainCtes(nBuckets: Int, rounds: Int)
      : String = {
    val newton = (0 until rounds).map { r =>
      s"""p$r AS (SELECT y, z1, z2,
         |    1.0 / (1.0 + exp(0.0 - (b0 + b1 * z1 + b2 * z2))) AS p,
         |    b0, b1, b2 FROM zl, b${r}r),
         |s$r AS (SELECT
         |    sum(y - p) AS g0, sum((y - p) * z1) AS g1,
         |    sum((y - p) * z2) AS g2,
         |    sum(p * (1.0 - p)) AS h00,
         |    sum(p * (1.0 - p) * z1) AS h01,
         |    sum(p * (1.0 - p) * z2) AS h02,
         |    sum(p * (1.0 - p) * z1 * z1) AS h11,
         |    sum(p * (1.0 - p) * z1 * z2) AS h12,
         |    sum(p * (1.0 - p) * z2 * z2) AS h22,
         |    any_value(b0) AS b0, any_value(b1) AS b1,
         |    any_value(b2) AS b2 FROM p$r),
         |c$r AS (SELECT *,
         |    h11 * h22 - h12 * h12 AS c00,
         |    h01 * h22 - h12 * h02 AS c01,
         |    h01 * h12 - h11 * h02 AS c02,
         |    h00 * h22 - h02 * h02 AS c11,
         |    h00 * h12 - h01 * h02 AS c12,
         |    h00 * h11 - h01 * h01 AS c22 FROM s$r),
         |d$r AS (SELECT *, h00 * c00 - h01 * c01 + h02 * c02 AS det
         |  FROM c$r),
         |b${r + 1}r AS (SELECT
         |    b0 + (c00 * g0 - c01 * g1 + c02 * g2) / det AS b0,
         |    b1 + (c11 * g1 - c01 * g0 - c12 * g2) / det AS b1,
         |    b2 + (c02 * g0 - c12 * g1 + c22 * g2) / det AS b2
         |  FROM d$r)""".stripMargin
    }.mkString(",\n")
    s"""fx(id, y, text) AS (VALUES
       |      $qualityFixtureValues),
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
       |      AS BIGINT) AS w_micro,
       |    COALESCE(cnt.c, 0) >= 2 AS seen
       |  FROM UNNEST(range($nBuckets)) AS b(b)
       |  LEFT JOIN cnt ON cnt.bucket = b.b CROSS JOIN tot),
       |lf AS (SELECT fg.id, any_value(fg.y) AS y,
       |    CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(round(CAST(sum(w.w_micro) AS DOUBLE) / count(*))
       |      AS BIGINT) AS f,
       |    CAST(round(CAST(sum(CASE WHEN w.seen THEN 1 ELSE 0 END)
       |        AS DOUBLE) * 1000000.0 / count(*)) AS BIGINT) AS cv
       |  FROM fg JOIN w ON w.bucket = fg.bucket GROUP BY fg.id),
       |stt AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(f) AS DOUBLE) AS sf,
       |    CAST(sum(CAST(f AS HUGEINT) * f) AS DOUBLE) AS sf2,
       |    CAST(sum(cv) AS DOUBLE) AS sc,
       |    CAST(sum(CAST(cv AS HUGEINT) * cv) AS DOUBLE) AS sc2 FROM lf),
       |stm AS (SELECT (sf / n) AS m1,
       |    sqrt((sf2 - sf * sf / n) / (n - 1)) AS sd1,
       |    (sc / n) AS m2,
       |    sqrt((sc2 - sc * sc / n) / (n - 1)) AS sd2 FROM stt),
       |zl AS (SELECT CAST(y AS DOUBLE) AS y,
       |    (CAST(f AS DOUBLE) - m1) / sd1 AS z1,
       |    (CAST(cv AS DOUBLE) - m2) / sd2 AS z2 FROM lf, stm),
       |b0r AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |$newton,
       |bfin AS (SELECT round(b0, 6) + 0.0 AS b0,
       |    round(b1, 6) + 0.0 AS b1, round(b2, 6) + 0.0 AS b2
       |  FROM b${rounds}r)""".stripMargin
  }

  /** Classifier-2 SCORING chain over relation `src` (must expose id,
    * source, text): grams → exact-micro features → round-6 sigmoid
    * score with the published bfin coefficients. Composable after
    * [[classifier2TrainCtes]].
    */
  def classifier2ScoreCtes(src: String, nBuckets: Int): String =
    s"""cg AS (SELECT id, source,
       |    CAST('0x' || substr(md5(substr(text, i.i, 3)), 1, 15)
       |      AS BIGINT) % $nBuckets AS bucket
       |  FROM $src CROSS JOIN
       |    UNNEST(range(1, greatest(length(text) - 2, 1) + 1)) AS i(i)),
       |cf AS (SELECT cg.id, any_value(cg.source) AS source,
       |    CAST(round(CAST(sum(w.w_micro) AS DOUBLE) / count(*))
       |      AS BIGINT) AS f,
       |    CAST(round(CAST(sum(CASE WHEN w.seen THEN 1 ELSE 0 END)
       |        AS DOUBLE) * 1000000.0 / count(*)) AS BIGINT) AS cv
       |  FROM cg JOIN w ON w.bucket = cg.bucket GROUP BY cg.id),
       |scored AS (SELECT cf.id, cf.source, cf.f, cf.cv,
       |    round(1.0 / (1.0 + exp(0.0 - (b.b0
       |      + b.b1 * ((CAST(cf.f AS DOUBLE) - stm.m1) / stm.sd1)
       |      + b.b2 * ((CAST(cf.cv AS DOUBLE) - stm.m2) / stm.sd2)))),
       |      6) AS score
       |  FROM cf, stm, bfin b)""".stripMargin

  /** The count tables of [[graft.ops.Text.lmCountIndex]] up to order 3
    * over the % 7 != 0 train split `tr` (`uni`, `bi`, `tri`, plus the
    * token and vocabulary sizes `nv`), and the % 7 = 0 eval docs `ev`.
    */
  private lazy val lmCountCtes: String =
    """WITH tr AS (SELECT string_split(text, ' ') AS t
      |            FROM documents WHERE doc_id % 7 <> 0),
      |ev AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |       FROM documents WHERE doc_id % 7 = 0),
      |uni AS (SELECT u.w, CAST(count(*) AS BIGINT) AS c1
      |        FROM tr, UNNEST(t) AS u(w) GROUP BY 1),
      |nv AS (SELECT CAST(sum(c1) AS DOUBLE) AS n,
      |         CAST(count(*) AS DOUBLE) AS v FROM uni),
      |bi AS (SELECT t[i.i] AS w1, t[i.i + 1] AS w2,
      |         CAST(count(*) AS BIGINT) AS c2
      |       FROM tr CROSS JOIN
      |         UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS i(i)
      |       WHERE t[i.i + 1] IS NOT NULL GROUP BY 1, 2),
      |tri AS (SELECT t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
      |          CAST(count(*) AS BIGINT) AS c3
      |        FROM tr CROSS JOIN
      |          UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS i(i)
      |        WHERE t[i.i + 1] IS NOT NULL AND t[i.i + 2] IS NOT NULL
      |        GROUP BY 1, 2, 3)""".stripMargin

  /** The shared trigram stupid-backoff CTE chain (through `pd`):
    * train-split count tables, eval trigram projection, the LEFT-join
    * backoff ladder (exact-count quotients, dyadic λ = 1/2, smoothed
    * unigram floor), per-doc ln sums. q_lm_trigram appends the per-doc
    * final select; q_ccnet_buckets appends the percentile bucketing.
    * `ev` carries `source` for the bucket rollup.
    */
  lazy val lmTrigramChainSql: String =
    lmCountCtes + """,
      |eg AS (SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2,
      |         t[i.i + 2] AS w3
      |       FROM ev CROSS JOIN
      |         UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS i(i)
      |       WHERE t[i.i + 1] IS NOT NULL AND t[i.i + 2] IS NOT NULL),
      |sc AS (SELECT eg.doc_id,
      |    CASE WHEN tri.c3 IS NOT NULL
      |           THEN CAST(tri.c3 AS DOUBLE) / cab.c2
      |         WHEN cbc.c2 IS NOT NULL
      |           THEN 0.5 * CAST(cbc.c2 AS DOUBLE) / ub.c1
      |         ELSE 0.25 * CAST(COALESCE(uw.c1, 0) + 1 AS DOUBLE)
      |           / (nv.n + nv.v) END AS s,
      |    CASE WHEN tri.c3 IS NOT NULL THEN 'tri'
      |         WHEN cbc.c2 IS NOT NULL THEN 'bi'
      |         ELSE 'uni' END AS depth
      |  FROM eg
      |  LEFT JOIN tri ON tri.w1 = eg.w1 AND tri.w2 = eg.w2
      |    AND tri.w3 = eg.w3
      |  LEFT JOIN bi cbc ON cbc.w1 = eg.w2 AND cbc.w2 = eg.w3
      |  LEFT JOIN bi cab ON cab.w1 = eg.w1 AND cab.w2 = eg.w2
      |  LEFT JOIN uni ub ON ub.w = eg.w2
      |  LEFT JOIN uni uw ON uw.w = eg.w3
      |  CROSS JOIN nv),
      |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
      |    CAST(sum(CASE WHEN depth = 'tri' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_tri_hits,
      |    CAST(sum(CASE WHEN depth = 'bi' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_bi_hits,
      |    CAST(sum(CASE WHEN depth = 'uni' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_uni_hits,
      |    sum(ln(s)) AS lp
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** The shared 5-gram stupid-backoff CTE chain (through `pd`) — the
    * [[lmTrigramChainSql]] ladder at CCNet's actual KenLM order: five
    * train count tables, eval 5-gram projection, the four-rung LEFT-join
    * backoff CASE (exact-count quotients, dyadic λ..λ⁴), per-doc ln
    * sums with published depth counters. q_lm_5gram appends the per-doc
    * final select; q_ccnet_buckets5 appends the percentile bucketing.
    */
  lazy val lm5gramChainSql: String =
    lmCountCtes + """,
      |fou AS (SELECT t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
      |          t[i.i + 3] AS w4, CAST(count(*) AS BIGINT) AS c4
      |        FROM tr CROSS JOIN
      |          UNNEST(range(1, greatest(len(t) - 3, 1) + 1)) AS i(i)
      |        WHERE t[i.i + 1] IS NOT NULL AND t[i.i + 2] IS NOT NULL
      |          AND t[i.i + 3] IS NOT NULL
      |        GROUP BY 1, 2, 3, 4),
      |fiv AS (SELECT t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
      |          t[i.i + 3] AS w4, t[i.i + 4] AS w5,
      |          CAST(count(*) AS BIGINT) AS c5
      |        FROM tr CROSS JOIN
      |          UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS i(i)
      |        WHERE t[i.i + 1] IS NOT NULL AND t[i.i + 2] IS NOT NULL
      |          AND t[i.i + 3] IS NOT NULL AND t[i.i + 4] IS NOT NULL
      |        GROUP BY 1, 2, 3, 4, 5),
      |eg AS (SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2,
      |         t[i.i + 2] AS w3, t[i.i + 3] AS w4, t[i.i + 4] AS w5
      |       FROM ev CROSS JOIN
      |         UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS i(i)
      |       WHERE t[i.i + 1] IS NOT NULL AND t[i.i + 2] IS NOT NULL
      |         AND t[i.i + 3] IS NOT NULL AND t[i.i + 4] IS NOT NULL),
      |sc AS (SELECT eg.doc_id,
      |    CASE WHEN fiv.c5 IS NOT NULL
      |           THEN CAST(fiv.c5 AS DOUBLE) / fab.c4
      |         WHEN fbc.c4 IS NOT NULL
      |           THEN 0.5 * CAST(fbc.c4 AS DOUBLE) / tb.c3
      |         WHEN tcd.c3 IS NOT NULL
      |           THEN 0.25 * CAST(tcd.c3 AS DOUBLE) / bc2.c2
      |         WHEN bde.c2 IS NOT NULL
      |           THEN 0.125 * CAST(bde.c2 AS DOUBLE) / ud.c1
      |         ELSE 0.0625 * CAST(COALESCE(ue.c1, 0) + 1 AS DOUBLE)
      |           / (nv.n + nv.v) END AS s,
      |    CASE WHEN fiv.c5 IS NOT NULL THEN 5
      |         WHEN fbc.c4 IS NOT NULL THEN 4
      |         WHEN tcd.c3 IS NOT NULL THEN 3
      |         WHEN bde.c2 IS NOT NULL THEN 2
      |         ELSE 1 END AS depth
      |  FROM eg
      |  LEFT JOIN fiv ON fiv.w1 = eg.w1 AND fiv.w2 = eg.w2
      |    AND fiv.w3 = eg.w3 AND fiv.w4 = eg.w4 AND fiv.w5 = eg.w5
      |  LEFT JOIN fou fab ON fab.w1 = eg.w1 AND fab.w2 = eg.w2
      |    AND fab.w3 = eg.w3 AND fab.w4 = eg.w4
      |  LEFT JOIN fou fbc ON fbc.w1 = eg.w2 AND fbc.w2 = eg.w3
      |    AND fbc.w3 = eg.w4 AND fbc.w4 = eg.w5
      |  LEFT JOIN tri tb ON tb.w1 = eg.w2 AND tb.w2 = eg.w3
      |    AND tb.w3 = eg.w4
      |  LEFT JOIN tri tcd ON tcd.w1 = eg.w3 AND tcd.w2 = eg.w4
      |    AND tcd.w3 = eg.w5
      |  LEFT JOIN bi bc2 ON bc2.w1 = eg.w3 AND bc2.w2 = eg.w4
      |  LEFT JOIN bi bde ON bde.w1 = eg.w4 AND bde.w2 = eg.w5
      |  LEFT JOIN uni ud ON ud.w = eg.w4
      |  LEFT JOIN uni ue ON ue.w = eg.w5
      |  CROSS JOIN nv),
      |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_5grams,
      |    CAST(sum(CASE WHEN depth = 5 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_5_hits,
      |    CAST(sum(CASE WHEN depth = 4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_4_hits,
      |    CAST(sum(CASE WHEN depth = 3 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_3_hits,
      |    CAST(sum(CASE WHEN depth = 2 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_2_hits,
      |    CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_1_hits,
      |    sum(ln(s)) AS lp
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** Cosine of two DuckDB double lists, in the sequential dot/norm
    * spelling of [[graft.functions.CosineSimilarity]] and the
    * `nearest_cos` kernel: dot(a, b) / (sqrt(dot(a, a)) · sqrt(dot(b, b))).
    */
  def cos(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) " +
      s"* sqrt(list_dot_product($b, $b)))"

  /** Squared L2 distance, the `nearest_l2` kernel's order key, spelled
    * dot(a, a) − 2·dot(a, b) + dot(b, b). Spark folds squared
    * differences instead (Similarity.l2sq); on the 1/1024 dyadic lattice
    * both spellings are exact, so they agree bit for bit.
    */
  def d2(a: String, b: String): String =
    s"(list_dot_product($a, $a) - 2 * list_dot_product($a, $b) " +
      s"+ list_dot_product($b, $b))"

  /** The embedding corpus as double lists, `u(vec_id, v)`: the widening
    * every vector operator applies to the float `embedding` column.
    */
  lazy val embVecCte: String =
    """WITH u AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings)""".stripMargin

  /** [[graft.ops.Similarity.lshBuckets]] over `u(vec_id, v)`: the
    * md5-derived hyperplanes w(t, p, d) = (int('0x' ||
    * md5('plane_t_p_d')[:15]) % 2000001 − 10^6) / 10^6 (CTE `pl`) and
    * each vector's per-table bucket, the bits of its positive-dot planes
    * (CTE `bkt`). `planes` is SQL: a literal or a count-derived
    * subquery.
    */
  def hyperplaneCtes(tables: Int, planes: String): String =
    s"""pl AS (SELECT t.t AS tbl, p.p AS plane,
       |         list_transform(range(64), d ->
       |           (CAST('0x' || substr(md5('plane_' || t.t || '_' || p.p
       |              || '_' || d), 1, 15) AS BIGINT)
       |              % 2000001 - 1000000) / 1000000.0) AS w
       |       FROM UNNEST(range($tables)) AS t(t)
       |       CROSS JOIN UNNEST(range($planes)) AS p(p)),
       |bkt AS (SELECT u.vec_id, pl.tbl,
       |          CAST(sum(CASE WHEN list_dot_product(u.v, pl.w) > 0
       |            THEN (CAST(1 AS BIGINT) << pl.plane) ELSE 0 END)
       |            AS BIGINT) AS bucket
       |        FROM u CROSS JOIN pl GROUP BY u.vec_id, pl.tbl)""".stripMargin

  /** [[graft.ops.Dedup.dupClusters]] over the pair CTE `dup(id_i,
    * id_j)`: undirected `edges`, the recursive transitive closure
    * `reach`, and `lab(id, cluster_id)`, the minimum reachable id. The
    * enclosing query must open with WITH RECURSIVE.
    */
  lazy val dupClosureCtes: String =
    """edges AS (SELECT id_i AS src, id_j AS dst FROM dup
      |          UNION SELECT id_j, id_i FROM dup),
      |reach(src, dst) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
      |lab AS (SELECT src AS id, min(dst) AS cluster_id
      |        FROM reach GROUP BY src)""".stripMargin

  /** The distinct word-3-shingle set `sh(doc_id, s)` of
    * [[graft.ops.Dedup.ngramJaccardPairs]] over `toks(doc_id, t)`.
    */
  lazy val shingleCte: String =
    """sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |       FROM toks, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i))"""
      .stripMargin

  /** The 3-shingle set of [[shingleCte]] with
    * [[graft.ops.Dedup.ngramJaccardPairs]]' `maxDocFreq = Some(10)` cap:
    * shingles held by more than 10 docs are dropped before pairing.
    */
  lazy val cappedShingleCtes: String =
    """sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i)),
      |sh AS (SELECT sh0.* FROM sh0
      |       JOIN (SELECT s, count(*) AS df FROM sh0 GROUP BY s) f
      |         ON f.s = sh0.s AND f.df <= 10)""".stripMargin

  /** The shingle-overlap counts of [[graft.ops.Dedup.ngramJaccardPairs]]
    * over `sh`: per-doc sizes and `pairs(id_i, id_j, c)`, the shared
    * shingle count of every co-occurring pair.
    */
  lazy val shinglePairCtes: String =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin

  /** [[graft.ops.Dedup.dupClusters]] over
    * [[graft.ops.Dedup.ngramJaccardPairs]] (n = 3, threshold 0.8) on
    * `documents`: the tokens, [[shingleCte]], per-doc shingle counts,
    * the pair counts, the Jaccard-thresholded `dup` pairs and then
    * [[dupClosureCtes]], ending at `lab(id, cluster_id)`.
    */
  lazy val jaccardClosureCtes: String =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |""".stripMargin + shingleCte + """,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, count(*) AS c
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |dup AS (SELECT id_i, id_j FROM p
      |        JOIN sizes sa ON sa.doc_id = id_i
      |        JOIN sizes sb ON sb.doc_id = id_j
      |        WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.8),
      |""".stripMargin + dupClosureCtes

  /** [[graft.ops.Dedup.minhashSignatures]] (32 hashes) and its 8 bands
    * of 4 over [[shingleCte]]: one md5 per shingle, the arithmetic hash
    * family ((h % 2^31)·(2i + 1) + 1000003·i) % (2^31 − 1), per-doc
    * minima `mh(doc_id, i, m)` and the band signature strings
    * `bands(doc_id, band, bsig)`.
    */
  lazy val minhashBandCtes: String =
    shingleCte + """,
      |mh AS (SELECT doc_id, r.i AS i,
      |         min(((CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
      |               % 2147483648) * (2 * r.i + 1) + 1000003 * r.i)
      |             % 2147483647) AS m
      |       FROM sh CROSS JOIN UNNEST(range(32)) AS r(i)
      |       GROUP BY doc_id, r.i),
      |bands AS (SELECT doc_id, i // 4 AS band,
      |            string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bsig
      |          FROM mh GROUP BY doc_id, i // 4)""".stripMargin

  /** The candidate verification of [[graft.ops.Dedup.minhashLshPairs]]
    * after [[minhashBandCtes]]: pairs sharing any band `cand(id_i,
    * id_j)`, per-doc shingle counts `sizes` and the exact common-shingle
    * counts `common(id_i, id_j, nc)` the Jaccard threshold reads.
    */
  lazy val minhashCommonCtes: String =
    """cand AS (SELECT DISTINCT a.doc_id AS id_i, b.doc_id AS id_j
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bsig = b.bsig
      |              AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (SELECT c.id_i, c.id_j, count(*) AS nc
      |           FROM cand c
      |           JOIN sh a ON a.doc_id = c.id_i
      |           JOIN sh b ON b.doc_id = c.id_j AND b.s = a.s
      |           GROUP BY c.id_i, c.id_j)""".stripMargin

  /** [[scoredDemo]]'s inputs: the labeled vectors `u(vec_id, label, v)`
    * widened to double, and the md5 demo weights `w(wv)` of
    * `Models.md5Weights(s, "demo", 64)`.
    */
  lazy val demoWeightCtes: String =
    """WITH u AS (SELECT vec_id, label,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |w AS (SELECT list_transform(range(64), d ->
      |        (CAST('0x' || substr(md5('wgt_demo_' || d), 1, 15)
      |           AS BIGINT) % 2000001 - 1000000) / 1000000.0) AS wv)""".stripMargin

  /** [[scoredDemo]]'s logit: [[demoWeightCtes]], then
    * `s(vec_id, label, z)` with z = w·v + 0.1 (the sequential dot of
    * `Models.scoreLinear`).
    */
  lazy val demoLogitCtes: String =
    demoWeightCtes + """,
      |s AS (SELECT vec_id, label,
      |        list_dot_product(u.v, w.wv) + 0.1 AS z
      |      FROM u CROSS JOIN w)""".stripMargin

  /** [[scoredDemo]]'s scores: [[demoWeightCtes]], then
    * `sc(vec_id, l, s)` with the odd-label truth l and the score
    * s = σ(w·v + 0.1) rounded to 6 digits, as `Models.scoreLinear`
    * emits it.
    */
  lazy val demoScoreCtes: String =
    demoWeightCtes + """,
      |sc AS (SELECT vec_id,
      |         CAST(label % 2 = 1 AS INTEGER) AS l,
      |         round(1.0 / (1.0 + exp(-(list_dot_product(u.v, w.wv)
      |           + 0.1))), 6) AS s
      |       FROM u CROSS JOIN w)""".stripMargin
}
