package graft
package gates

import org.apache.spark.sql.DataFrame
import graft.ops.{Dedup, Similarity}
import Shared._

/** The gates whose plans call [[graft.ops.Dedup]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object DedupGates {
  val all: Seq[Gate] = Seq(
    // The md5-derived 60-bit hash
    // CAST('0x'||substr(md5(x),1,15) AS BIGINT) is the DuckDB spelling of
    // Spark's conv(substring(md5(x),1,15),16,10) — identical signatures,
    // so MinHash/SimHash compare exactly.
    Gate("q_exact_dedup", (s, d) =>
      Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text"))(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin),
    Gate("q_ngram_jaccard", (s, d) => Dedup.ngramJaccardPairs(
      Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.8))(
      jaccardPairsOracle(shingleCte)),
    Gate("q_ngram_jaccard_capped", (s, d) => Dedup.ngramJaccardPairs(
      Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.8,
      // df cap chosen to actually engage at the bench SFs (max df at
      // sf0.1 is 25; >10 covers ~63% of the posting pair space while
      // keeping every planted >=0.9 pair at sf0.01)
      maxDocFreq = Some(10L)))(
      jaccardPairsOracle(cappedShingleCtes)),
    // directed containment twin (same shingle/cap discipline): fragments
    // mostly inside a larger doc that symmetric Jaccard under-scores
    // directed containment: same capped shingle CTE, undirected common
    // counts mirrored into both directions, divided by the SOURCE size
    Gate("q_containment", (s, d) => Dedup.containmentPairs(
      Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.6,
      maxDocFreq = Some(10L)))(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ')
        |          AS s
        |        FROM toks, UNNEST(range(1, greatest(len(t)-1, 2)))
        |          AS u(i)),
        |sh AS (SELECT sh0.* FROM sh0
        |       JOIN (SELECT s, count(*) AS df FROM sh0 GROUP BY s) f
        |         ON f.s = sh0.s AND f.df <= 10),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |          FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j,
        |            CAST(count(*) AS BIGINT) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s
        |            AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |dir AS (SELECT id_i, id_j, c FROM pairs
        |        UNION ALL SELECT id_j, id_i, c FROM pairs)
        |SELECT dir.id_i, dir.id_j, dir.c AS n_common, sizes.n AS n_i,
        |  round(CAST(dir.c AS DOUBLE) / CAST(sizes.n AS DOUBLE), 6)
        |    AS containment
        |FROM dir JOIN sizes ON sizes.doc_id = dir.id_i
        |WHERE round(CAST(dir.c AS DOUBLE) / CAST(sizes.n AS DOUBLE), 6)
        |  >= 0.6
        |ORDER BY containment DESC, dir.id_i, dir.id_j""".stripMargin),
    Gate("q_dup_clusters", (s, d) => Dedup.dupClusters(
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.8)))(
      dupClustersOracle),
    // same clustering via alternating large-star/small-star rounds — the
    // O(log n)-round path for non-clique duplicate graphs; identical
    // output, so the oracle text is the same recursive closure
    Gate("q_dup_clusters_star", (s, d) => Dedup.dupClustersStar(
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.8)))(
      dupClustersOracle),
    // quality survivorship: keep the LONGEST doc per cluster (ties -> min
    // id) instead of resolveDuplicates' min-id representative
    // survivorship oracle: the same closure, then argmax keeper per
    // cluster (longest doc, ties to min id) and an anti-join drop
    Gate("q_dup_resolve_quality", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.resolveDuplicatesByQuality(docs,
        Dedup.dupClusters(Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.8)),
        "doc_id", "n_chars")
        .select("doc_id", "n_chars").orderBy("doc_id")
    })(
      (jaccardClosureCtes + """,
        |rk AS (SELECT lab.id, row_number() OVER (
        |         PARTITION BY lab.cluster_id
        |         ORDER BY d.n_chars DESC, lab.id ASC) AS r
        |       FROM lab JOIN documents d ON d.doc_id = lab.id),
        |drops AS (SELECT id FROM rk WHERE r > 1)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM drops)
        |ORDER BY doc_id""".stripMargin)),
    Gate("q_minhash_lsh", (s, d) => Dedup.minhashLshPairs(
      Tables.documents(s, d), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, threshold = 0.8))(
      ("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |""".stripMargin + minhashBandCtes + ",\n" + minhashCommonCtes + """
        |SELECT id_i, id_j,
        |  round(nc * 1.0 / (sa.n + sb.n - nc), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_i
        |JOIN sizes sb ON sb.doc_id = id_j
        |WHERE round(nc * 1.0 / (sa.n + sb.n - nc), 6) >= 0.8
        |ORDER BY id_i, id_j""".stripMargin)),
    // the (bands, rows) S-curve table that PICKS the split before a
    // signature pass is paid for: detection probability at the target
    // threshold + FP/FN masses per power-of-two split of 128 hashes,
    // exact by repeated squaring (no pow() ulp exposure)
    Gate("q_lsh_calibrate", (s, _) => Dedup.lshCalibrate(
      s, numHashes = 128, threshold = 0.5, gridLog2 = 4))(
      lshCalibrateOracle(128, 0.5, 4)),
    // incremental ingest screen: every 5th doc is the "new batch", the
    // rest is the persisted signature index; verification is the
    // signature-estimated Jaccard, so the corpus text is never touched
    // incremental screen: same signatures/banding as q_minhash_lsh, split
    // new-batch vs index, est = agreeing minhash fraction (k/32 dyadic)
    Gate("q_minhash_incremental", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.minhashLshPairsAgainstIndex(
        docs.filter(col("doc_id") % 5 === 0),
        Dedup.minhashSignatures(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", n = 3, numHashes = 32),
        "doc_id", "text", n = 3, numHashes = 32, bands = 8,
        minEstJaccard = 0.75)
    })(
      minhashScreenOracle(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |""".stripMargin)),
    // the signature index LIFECYCLE: the %5 != 0 corpus's persisted
    // signatures absorb a RE-CRAWL (every %10 == 1 doc returns with
    // amended text) — the stale rows are evicted by one id anti-join
    // and the fresh batch is signed once; the %5 == 0 probe batch then
    // screens against the REFRESHED index. The oracle signs the
    // post-re-crawl corpus directly, so the gate hash-greens only if
    // the merge's replace semantics equal a from-scratch rebuild
    // signature-index-merge lifecycle: the oracle signs the
    // POST-RE-CRAWL corpus from scratch (every %10 == 1 doc carries
    // the amended text) while the Spark side merges the stale index
    // with the re-crawl batch — a hash match proves the merge's
    // replace semantics equal a from-scratch rebuild
    Gate("q_minhash_index_merge", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val idx = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        n = 3, numHashes = 32)
      val recrawl = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id"),
          concat(col("text"), lit(" updated edition")).as("text"))
      val merged = Dedup.minhashIndexMerge(idx, recrawl, "doc_id",
        "text", n = 3, numHashes = 32)
      Dedup.minhashLshPairsAgainstIndex(
        docs.filter(col("doc_id") % 5 === 0), merged, "doc_id",
        "text", n = 3, numHashes = 32, bands = 8,
        minEstJaccard = 0.75)
    })(
      minhashScreenOracle(
      """WITH ad AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 1
        |      THEN text || ' updated edition' ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ad),
        |""".stripMargin)),
    Gate("q_simhash", (s, d) => Dedup.simhashPairs(
      Tables.documents(s, d), "doc_id", "text", maxHamming = 3))(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
        |             FROM documents),
        |tc AS (SELECT doc_id, tk, count(*) AS w,
        |         CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS th
        |       FROM tok GROUP BY doc_id, tk),
        |bs AS (SELECT doc_id, b.bit AS bit,
        |         sum(w * (((th >> b.bit) & 1) * 2 - 1)) AS s
        |       FROM tc CROSS JOIN UNNEST(range(60)) AS b(bit)
        |       GROUP BY doc_id, b.bit),
        |sig AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN s > 0
        |            THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
        |            AS simhash
        |        FROM bs GROUP BY doc_id)
        |SELECT a.doc_id AS id_i, b.doc_id AS id_j,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id_i, id_j""".stripMargin),
    // both embedding near-dup gates run the LSH scale plan (the O(n²)
    // brute-force pair join is demoted to DedupSpec's recall reference —
    // no gated query may carry a plan that dies at 100×). Two distinct
    // (tables, planes) configurations exercise the recall/cost dial: more
    // tables = higher recall at proportional candidate cost.
    // This one is the higher-recall 16-table configuration.
    Gate("q_emb_cosine_dup", (s, d) => Dedup.embeddingCosinePairsLsh(
      Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.42,
      tables = 16, planes = 6))(
      cosineDupOracle(16, "6")),
    Gate("q_emb_cosine_dup_lsh", (s, d) => Dedup.embeddingCosinePairsLsh(
      Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.42,
      tables = 8, planes = 6))(
      cosineDupOracle(8, "6")),
    // the 100 TB form: plane count sized to the corpus so bucket
    // occupancy (and thus candidate volume per vector) stays constant
    // as n grows — the fixed-plane gates above measure quadratic
    // candidate growth at 10x (SCALING.md); this one stays ~linear
    // auto-sized planes: greatest(minPlanes, ceil(log2(ceil(n/target))))
    // replayed from DuckDB's own count — same recipe otherwise
    Gate("q_emb_cosine_dup_auto", (s, d) =>
      Dedup.embeddingCosinePairsLshAuto(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.42, tables = 8, minPlanes = 6,
        targetPerBucket = 16))(
      cosineDupOracle(8, autoPlanesSql)),
    // train/test decontamination: eval set = every 7th doc, train = rest
    // decontamination: train shingle postings ∩ eval shingle set
    Gate("q_decontaminate", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 3)
    })(
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents WHERE doc_id % 7 <> 0),
        |te AS (SELECT doc_id, string_split(text, ' ') AS t
        |       FROM documents WHERE doc_id % 7 = 0),
        |tsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM tr, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i)),
        |esh AS (SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS s
        |        FROM te, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i))
        |SELECT doc_id, count(*) AS n_shared
        |FROM tsh JOIN esh USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the standard multi-n eval-leakage table: per (n in {8,13,20},
    // eval doc) worst-overlapping train doc + containment fraction —
    // which benchmark items leak, how badly, and from where
    // multi-n leakage replay: per n the same shingle join, eval-keyed
    // worst-train argmax, LEFT so clean eval docs stay visible
    Gate("q_decontaminate_multi", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.decontaminateMulti(docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        ns = Seq(8, 13, 20))
    })(
      decontaminateMultiOracle(Seq(8, 13, 20))),
    // C4-style line-level dedup with document REWRITE: the corpus has
    // no newlines, so the gate injects deterministic line structure
    // (the q_pii_report discipline) — every 5th doc gets a global
    // banner line, every doc gets its source's syndication footer; the
    // op must excise each boilerplate line everywhere but its
    // (min id, min pos) occurrence and hand back the cleaned remainder
    // line-dedup replay: identical injected banner/footer, identical
    // normalized-md5 dup keys, (doc_id, pos) keeper via row_number,
    // position-ordered string_agg re-assembly
    Gate("q_line_dedup", (s, d) => {
      import org.apache.spark.sql.functions._
      val lined = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0,
            lit("breaking: subscribe banner\n")).otherwise(lit("")),
          col("text"), lit("\n"),
          lit("(c) "), col("source"), lit(" syndication network"))
          .as("text"))
      Dedup.lineDedup(lined, "doc_id", "text")
    })(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'breaking: subscribe banner' || chr(10) ELSE '' END
        |    || COALESCE(text, '') || chr(10) || '(c) ' || source
        |    || ' syndication network' AS t
        |  FROM documents),
        |sp AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM d),
        |k AS (SELECT doc_id, i.i AS pos, ls[i.i + 1] AS line,
        |        trim(regexp_replace(lower(ls[i.i + 1]), '\s+', ' ', 'g'))
        |          AS norm
        |      FROM sp CROSS JOIN UNNEST(range(len(ls))) AS i(i)),
        |st AS (SELECT md5(norm) AS key FROM k WHERE norm <> ''
        |       GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |keepr AS (SELECT key, doc_id AS kid, pos AS kpos FROM (
        |    SELECT md5(norm) AS key, doc_id, pos, row_number() OVER (
        |      PARTITION BY md5(norm) ORDER BY doc_id, pos) AS rn
        |    FROM k WHERE norm <> '') WHERE rn = 1),
        |kept AS (SELECT k.doc_id, k.pos, k.line FROM k
        |    LEFT JOIN st ON st.key = md5(k.norm)
        |    LEFT JOIN keepr ON keepr.key = md5(k.norm)
        |    WHERE st.key IS NULL
        |       OR (k.doc_id = keepr.kid AND k.pos = keepr.kpos)),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(line, chr(10) ORDER BY pos) AS clean
        |        FROM kept GROUP BY doc_id),
        |nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        |       FROM k GROUP BY doc_id)
        |SELECT d.doc_id, nl.n_lines,
        |  COALESCE(reb.n_kept, 0) AS n_lines_kept,
        |  nl.n_lines - COALESCE(reb.n_kept, 0) AS n_lines_removed,
        |  CAST(len(d.t) - len(COALESCE(reb.clean, '')) AS BIGINT)
        |    AS n_chars_removed,
        |  COALESCE(reb.clean, '') AS text_clean
        |FROM d JOIN nl USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // exact-substring (token-span) dedup with rewrite — the last rung
    // of the doc -> line -> span ladder (Lee et al. 2022): every 4th
    // doc gets a 12-token license blurb prefix, every doc gets its
    // source's 13-token promo footer; the duplicated k-token spans are
    // excised everywhere but the corpus-wide (min id, min pos)
    // occurrence, and boundary spans that mix doc-unique text never
    // qualify — mirrored verbatim in the oracle
    // exact-substring dedup replay: identical injected license blurb +
    // source footer, the SAME rolling-fingerprint integer recurrence
    // per k-token slice (list_reduce over md5 20-bit token hashes),
    // (doc_id, pos) keeper via row_number, keeper-protected per-token
    // removal set, position-ordered string_agg re-assembly
    Gate("q_substring_dedup", (s, d) => {
      import org.apache.spark.sql.functions._
      val lined = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0,
            lit("this work is licensed under a creative commons " +
              "attribution share alike license ")).otherwise(lit("")),
          col("text"), lit(" visit the "), col("source"),
          lit(" archive for more stories and daily updates from our " +
            "editors")).as("text"))
      Dedup.substringDedup(lined, "doc_id", "text", k = 8)
    })(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'this work is licensed under a creative commons '
        |        || 'attribution share alike license ' ELSE '' END
        |    || COALESCE(text, '') || ' visit the ' || source
        |    || ' archive for more stories and daily updates from our '
        |    || 'editors' AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM d),
        |sp AS (SELECT doc_id, i.i AS pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM tk CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i)),
        |st AS (SELECT h FROM sp GROUP BY h
        |       HAVING count(DISTINCT doc_id) >= 2),
        |kp AS (SELECT h, doc_id AS kid, pos AS kpos FROM (
        |    SELECT h, doc_id, pos, row_number() OVER (
        |      PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp)
        |  WHERE rn = 1),
        |occ AS (SELECT sp.doc_id, sp.pos,
        |    CASE WHEN sp.doc_id = kp.kid AND sp.pos = kp.kpos
        |         THEN 1 ELSE 0 END AS iskeep
        |  FROM sp JOIN st USING (h) JOIN kp USING (h)),
        |rem AS (SELECT doc_id, pos + j.j AS ti
        |  FROM occ CROSS JOIN UNNEST(range(8)) AS j(j)
        |  GROUP BY 1, 2 HAVING max(iskeep) = 0),
        |tok AS (SELECT doc_id, i.i AS ti, toks[i.i + 1] AS w
        |  FROM tk CROSS JOIN UNNEST(range(len(toks))) AS i(i)),
        |keep AS (SELECT tok.doc_id, tok.ti, tok.w FROM tok
        |  LEFT JOIN rem ON rem.doc_id = tok.doc_id AND rem.ti = tok.ti
        |  WHERE rem.doc_id IS NULL),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY ti) AS clean
        |  FROM keep GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |       FROM tk)
        |SELECT d.doc_id, nt.n_tokens,
        |  COALESCE(reb.n_kept, 0) AS n_tokens_kept,
        |  nt.n_tokens - COALESCE(reb.n_kept, 0) AS n_tokens_removed,
        |  CAST(len(d.t) - len(COALESCE(reb.clean, '')) AS BIGINT)
        |    AS n_chars_removed,
        |  COALESCE(reb.clean, '') AS text_clean
        |FROM d JOIN nt USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // WHERE does the verbatim duplication come from: source pairs
    // sharing cross-doc duplicated k-token SPANS (same injection as
    // q_substring_dedup — the license blurb lands in the doc_id%4
    // slices of every source, each source shares its own promo footer
    // within itself)
    // span-provenance replay: the q_substring_dedup injection and
    // rolling-fingerprint recurrence, qualified-digest semi-join,
    // source-pair self-join with the within-source >= 2 rule
    Gate("q_substring_sources", (s, d) => {
      import org.apache.spark.sql.functions._
      val lined = Tables.documents(s, d).select(col("doc_id"),
        col("source"),
        concat(
          when(col("doc_id") % 4 === 0,
            lit("this work is licensed under a creative commons " +
              "attribution share alike license ")).otherwise(lit("")),
          col("text"), lit(" visit the "), col("source"),
          lit(" archive for more stories and daily updates from our " +
            "editors")).as("text"))
      Dedup.substringSourceReport(lined, "doc_id", "text", "source",
        k = 8)
    })(
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'this work is licensed under a creative commons '
        |        || 'attribution share alike license ' ELSE '' END
        |    || COALESCE(text, '') || ' visit the ' || source
        |    || ' archive for more stories and daily updates from our '
        |    || 'editors' AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, source, string_split(t, ' ') AS toks
        |       FROM d),
        |sp AS (SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM tk CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i)),
        |ks AS (SELECT h, source,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        |       FROM sp GROUP BY 1, 2),
        |qual AS (SELECT h FROM ks GROUP BY h HAVING sum(nd) >= 2),
        |side AS (SELECT ks.* FROM ks JOIN qual USING (h))
        |SELECT a.source AS source_lo, b.source AS source_hi,
        |  CAST(count(*) AS BIGINT) AS n_shared_spans
        |FROM side a JOIN side b ON a.h = b.h
        |WHERE a.source < b.source
        |   OR (a.source = b.source AND a.nd >= 2)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // incremental span screen: yesterday's corpus (train split, same
    // injections) publishes its qualifying span-digest index; the
    // incoming batch (eval split) is fingerprinted in-row and screened
    // by digest equi-join — NO corpus re-fingerprint, the live
    // crawler-loop alarm for verbatim spans. Per flagged doc: span and
    // token coverage via the exact lag-window interval union
    // incremental span-screen replay: train-split qualifying digests
    // (the same rolling-fingerprint recurrence), eval-split span
    // fingerprints, digest semi-join, exact lag-window interval union
    Gate("q_substring_incremental", (s, d) => {
      import org.apache.spark.sql.functions._
      def inj(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0,
            lit("this work is licensed under a creative commons " +
              "attribution share alike license ")).otherwise(lit("")),
          col("text"), lit(" visit the "), col("source"),
          lit(" archive for more stories and daily updates from our " +
            "editors")).as("text"))
      val docs = Tables.documents(s, d)
      val index = Dedup.substringSpanIndex(
        inj(docs.filter(col("doc_id") % 7 =!= 0)), "doc_id", "text",
        k = 8)
      Dedup.substringScreenAgainstIndex(
        inj(docs.filter(col("doc_id") % 7 === 0)), index, "doc_id",
        "text", k = 8)
    })(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'this work is licensed under a creative commons '
        |        || 'attribution share alike license ' ELSE '' END
        |    || COALESCE(text, '') || ' visit the ' || source
        |    || ' archive for more stories and daily updates from our '
        |    || 'editors' AS t
        |  FROM documents),
        |tr AS (SELECT doc_id, string_split(t, ' ') AS toks FROM d
        |       WHERE doc_id % 7 <> 0),
        |trsp AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM tr CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i)),
        |idx AS (SELECT h FROM trsp GROUP BY h
        |        HAVING count(DISTINCT doc_id) >= 2),
        |nb AS (SELECT doc_id, string_split(t, ' ') AS toks FROM d
        |       WHERE doc_id % 7 = 0),
        |nbsp AS (SELECT doc_id, i.i AS pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM nb CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i)),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        |        FROM nbsp GROUP BY 1),
        |tk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |       FROM nb),
        |hit AS (SELECT doc_id, pos FROM nbsp
        |        WHERE h IN (SELECT h FROM idx)),
        |cov AS (SELECT doc_id, least(8, COALESCE(pos - lag(pos)
        |          OVER (PARTITION BY doc_id ORDER BY pos), 8)) AS c
        |        FROM hit),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_spans,
        |         CAST(sum(c) AS BIGINT) AS n_flagged_tokens
        |       FROM cov GROUP BY 1)
        |SELECT ag.doc_id, tk.n_tokens, per.n_spans, ag.n_hit_spans,
        |  ag.n_flagged_tokens,
        |  round(CAST(ag.n_flagged_tokens AS DOUBLE) / tk.n_tokens, 6)
        |    AS flag_rate
        |FROM ag JOIN per USING (doc_id) JOIN tk USING (doc_id)
        |ORDER BY ag.doc_id""".stripMargin),
    // multi-width span ladder: rungs {8,16,32} qualified independently
    // at their own width, per-rung exact interval-union coverage — the
    // survival-curve read on verbatim duplication LENGTH (a 37-token
    // license blurb injected on doc_id % 5 = 0 exercises the k=32
    // rung; the per-source archive suffix feeds the short rungs)
    Gate("q_substring_ladder", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(col("doc_id"), concat(
        when(col("doc_id") % 5 === 0, lit(ladderBlurb + " "))
          .otherwise(lit("")),
        coalesce(col("text"), lit("")), lit(" visit the "),
        col("source"),
        lit(" archive for more stories and daily updates from our " +
          "editors")).as("text"))
      Dedup.substringLadder(docs, "doc_id", "text",
        ks = Seq(8, 16, 32), minDocs = 2)
    })(
      substringLadderOracle(Seq(8, 16, 32), 2)),
    // the ladder's LIVE monitor: train split (same ladder injection)
    // publishes the per-rung digest index; the eval stream is
    // fingerprinted at all rungs in one projection and hit-counted per
    // (hour window, rung) — the survival curve over time
    Gate("q_windowed_span_ladder", (s, d) => {
      import org.apache.spark.sql.functions._
      def inj(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"), concat(
          when(col("doc_id") % 5 === 0, lit(ladderBlurb + " "))
            .otherwise(lit("")),
          coalesce(col("text"), lit("")), lit(" visit the "),
          col("source"),
          lit(" archive for more stories and daily updates from our " +
            "editors")).as("text"))
      val docs = Tables.documents(s, d)
      val index = Dedup.substringLadderIndex(
        inj(docs.filter(col("doc_id") % 7 =!= 0)), "doc_id", "text",
        ks = Seq(8, 16, 32), minDocs = 2)
      val stream = inj(docs.filter(col("doc_id") % 7 === 0)).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        col("doc_id"), col("text"))
      graft.streaming.Streams.windowedSpanLadderMix(stream, "ts",
        "doc_id", "text", index, ks = Seq(8, 16, 32))
        .orderBy("window_start", "k")
    })(
      windowedSpanLadderOracle(Seq(8, 16, 32), 2)),
    // the span index LIFECYCLE: yesterday's UN-thresholded digest
    // state (train split) absorbs today's batch (eval split, disjoint
    // ids) via the additive count merge — never re-fingerprinting
    // yesterday's corpus — then the qualifying screen index publishes
    // from the merged state. The oracle rebuilds from the FULL corpus,
    // so the gate hash-greens only if merge ≡ rebuild exactly —
    // including the digests seen once on EACH side that a thresholded
    // artifact would have lost
    // span-index-merge lifecycle: the oracle is the FULL-corpus
    // rebuild (every doc, the same injection + rolling-fingerprint
    // recurrence, HAVING count >= 2) while the Spark side merges the
    // train split's UN-thresholded state with the eval batch — a hash
    // match proves merge ≡ rebuild including the 1+1-occurrence
    // digests a thresholded artifact would lose
    Gate("q_span_index_merge", (s, d) => {
      import org.apache.spark.sql.functions._
      def inj(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0,
            lit("this work is licensed under a creative commons " +
              "attribution share alike license ")).otherwise(lit("")),
          col("text"), lit(" visit the "), col("source"),
          lit(" archive for more stories and daily updates from our " +
            "editors")).as("text"))
      val docs = Tables.documents(s, d)
      val state = Dedup.substringSpanState(
        inj(docs.filter(col("doc_id") % 7 =!= 0)), "doc_id", "text",
        k = 8)
      val merged = Dedup.substringSpanStateMerge(state,
        inj(docs.filter(col("doc_id") % 7 === 0)), "doc_id", "text",
        k = 8)
      Dedup.substringSpanIndexFromState(merged, minDocs = 2)
    })(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'this work is licensed under a creative commons '
        |        || 'attribution share alike license ' ELSE '' END
        |    || COALESCE(text, '') || ' visit the ' || source
        |    || ' archive for more stories and daily updates from our '
        |    || 'editors' AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM d),
        |sp AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM tk CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i))
        |SELECT h AS span_fp,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM sp GROUP BY 1
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY span_fp""".stripMargin),
    // the crawler-loop alarm made CONTINUOUS: per-hour span-hit rate of
    // the incoming (eval-split) stream against yesterday's span-digest
    // index — the windowedDupRate two-level aggregation over the same
    // injections and index as q_substring_incremental
    // windowed span-hit replay: the q_substring_incremental chain's
    // train-split digests + eval-split span fingerprints, hour-bucketed
    // per (window, doc) then rolled up per window
    Gate("q_windowed_span_hits", (s, d) => {
      import org.apache.spark.sql.functions._
      def inj(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0,
            lit("this work is licensed under a creative commons " +
              "attribution share alike license ")).otherwise(lit("")),
          col("text"), lit(" visit the "), col("source"),
          lit(" archive for more stories and daily updates from our " +
            "editors")).as("text"))
      val docs = Tables.documents(s, d)
      val index = Dedup.substringSpanIndex(
        inj(docs.filter(col("doc_id") % 7 =!= 0)), "doc_id", "text",
        k = 8)
      val stream = inj(docs.filter(col("doc_id") % 7 === 0)).select(
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        col("doc_id"), col("text"))
      graft.streaming.Streams.windowedSpanHitRate(stream, "ts",
        "doc_id", "text", index, k = 8).orderBy("window_start")
    })(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'this work is licensed under a creative commons '
        |        || 'attribution share alike license ' ELSE '' END
        |    || COALESCE(text, '') || ' visit the ' || source
        |    || ' archive for more stories and daily updates from our '
        |    || 'editors' AS t
        |  FROM documents),
        |tr AS (SELECT doc_id, string_split(t, ' ') AS toks FROM d
        |       WHERE doc_id % 7 <> 0),
        |trsp AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM tr CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i)),
        |idx AS (SELECT h FROM trsp GROUP BY h
        |        HAVING count(DISTINCT doc_id) >= 2),
        |nb AS (SELECT doc_id,
        |         time_bucket(INTERVAL 1 HOUR,
        |           TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id))
        |           AS ws,
        |         string_split(t, ' ') AS toks
        |       FROM d WHERE doc_id % 7 = 0),
        |nbsp AS (SELECT doc_id, ws,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks[i.i + 1 : i.i + 8], x ->
        |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |          % 1048576)),
        |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
        |  FROM nb CROSS JOIN
        |    UNNEST(range(greatest(len(toks) - 7, 0))) AS i(i)),
        |pd AS (SELECT ws, doc_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN h IN (SELECT h FROM idx)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM nbsp GROUP BY 1, 2)
        |SELECT CAST(ws AS TIMESTAMP) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_spans,
        |  CAST(sum(k) AS BIGINT) AS n_hit_spans,
        |  CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged_docs,
        |  round(CAST(sum(k) AS DOUBLE) / sum(n), 6) AS hit_rate
        |FROM pd GROUP BY 1 ORDER BY window_start""".stripMargin),
    // WHERE does the boilerplate come from: source pairs sharing
    // cross-doc duplicated lines (same injected structure as
    // q_line_dedup — the banner lands in the doc_id%5 sources, each
    // source shares its own footer within itself)
    // boilerplate-source replay: same injection, same normalized keys,
    // qualified-key semi-join, source-pair self-join with the
    // within-source >= 2 rule on self rows
    Gate("q_boilerplate_sources", (s, d) => {
      import org.apache.spark.sql.functions._
      val lined = Tables.documents(s, d).select(col("doc_id"),
        col("source"),
        concat(
          when(col("doc_id") % 5 === 0,
            lit("breaking: subscribe banner\n")).otherwise(lit("")),
          col("text"), lit("\n"),
          lit("(c) "), col("source"), lit(" syndication network"))
          .as("text"))
      Dedup.boilerplateSourceReport(lined, "doc_id", "text", "source")
    })(
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'breaking: subscribe banner' || chr(10) ELSE '' END
        |    || text || chr(10) || '(c) ' || source
        |    || ' syndication network' AS t
        |  FROM documents),
        |l AS (SELECT doc_id, source,
        |        md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g')))
        |          AS key
        |      FROM (SELECT doc_id, source,
        |              unnest(string_split(t, chr(10))) AS line FROM d)
        |      WHERE trim(regexp_replace(lower(line), '\s+', ' ', 'g'))
        |        <> ''),
        |ks AS (SELECT key, source,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        |       FROM l GROUP BY 1, 2),
        |qual AS (SELECT key FROM ks GROUP BY key
        |         HAVING sum(nd) >= 2),
        |side AS (SELECT ks.* FROM ks JOIN qual USING (key))
        |SELECT a.source AS source_lo, b.source AS source_hi,
        |  CAST(count(*) AS BIGINT) AS n_shared_lines
        |FROM side a JOIN side b ON a.key = b.key
        |WHERE a.source < b.source
        |   OR (a.source = b.source AND a.nd >= 2)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // per-doc trigram novelty of the "new batch" (every 7th doc) vs the
    // reference corpus vocabulary — the acquisition-freshness grade
    // novelty replay: reference distinct-shingle vocabulary, left join,
    // per-doc miss fraction
    Gate("q_novelty", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.noveltyRates(docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", n = 3)
    })(
      """WITH inc AS (SELECT doc_id, string_split(text, ' ') AS t
        |             FROM documents WHERE doc_id % 7 = 0),
        |ref AS (SELECT doc_id, string_split(text, ' ') AS t
        |        FROM documents WHERE doc_id % 7 <> 0),
        |rv AS (SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS s
        |       FROM ref, UNNEST(range(1, greatest(len(t)-1, 2)))
        |         AS u(i)),
        |ish AS (SELECT DISTINCT doc_id,
        |          array_to_string(t[i:i+2], ' ') AS s
        |        FROM inc, UNNEST(range(1, greatest(len(t)-1, 2)))
        |          AS u(i))
        |SELECT ish.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN rv.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(sum(CASE WHEN rv.s IS NULL THEN 1 ELSE 0 END) * 1.0
        |    / count(*), 6) AS novelty_rate
        |FROM ish LEFT JOIN rv ON rv.s = ish.s
        |GROUP BY ish.doc_id ORDER BY ish.doc_id""".stripMargin),
    // ANN-grade hard negatives: per anchor, the most similar NON-dup
    // corpus vector (cos just below the dup line) from the LSH buckets —
    // plane count sized to the corpus (the occupancy-stable scale config;
    // fixed planes measured 3.1x at 10x data, auto holds occupancy flat)
    // hard negatives: same buckets (count-sized plane count, the auto
    // scale config), both-orientation self-join, cosine BELOW the dup
    // threshold, per-anchor argmax
    Gate("q_hard_negatives", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.hardNegativePairs(emb, "vec_id", "embedding",
        dupThreshold = 0.42, tables = 8,
        planes = Dedup.autoPlanes(emb.count(), 6, 16))
    })(
      embVecCte + ",\n" + hyperplaneCtes(8, autoPlanesSql) + """,
        |cand AS (SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS neg
        |         FROM bkt a JOIN bkt b
        |           ON b.tbl = a.tbl AND b.bucket = a.bucket
        |          AND b.vec_id <> a.vec_id),
        |sc AS (SELECT c.anchor, c.neg,
        |    list_dot_product(ua.v, un.v)
        |      / (sqrt(list_dot_product(ua.v, ua.v))
        |         * sqrt(list_dot_product(un.v, un.v))) AS cos
        |  FROM cand c
        |  JOIN u ua ON ua.vec_id = c.anchor
        |  JOIN u un ON un.vec_id = c.neg),
        |f AS (SELECT anchor, neg, cos,
        |    row_number() OVER (PARTITION BY anchor
        |      ORDER BY cos DESC, neg) AS rk
        |  FROM sc WHERE cos < 0.42)
        |SELECT anchor AS vec_id, neg AS negative_id,
        |  round(cos, 6) AS cos_sim
        |FROM f WHERE rk = 1 ORDER BY vec_id""".stripMargin),
    // semantic decontamination: embedding-space train-vs-eval screen
    // (paraphrase leakage the n-gram screen cannot see)
    // semantic decontamination: same md5 hyperplane buckets as the ANN
    // oracles (8 tables × 6 planes), split train/eval, bucket equi-join,
    // exact cosine + threshold, per-train-id worst-offender argmax
    Gate("q_emb_decontaminate", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Dedup.decontaminateByEmbedding(emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        threshold = 0.42, tables = 8, planes = 6)
    })(
      embVecCte + ",\n" + hyperplaneCtes(8, "6") + """,
        |tb AS (SELECT * FROM bkt WHERE vec_id % 10 <> 0),
        |eb AS (SELECT * FROM bkt WHERE vec_id % 10 = 0),
        |cand AS (SELECT DISTINCT tb.vec_id AS tid, eb.vec_id AS eid
        |         FROM tb JOIN eb
        |           ON eb.tbl = tb.tbl AND eb.bucket = tb.bucket),
        |sc AS (SELECT c.tid, c.eid,
        |    list_dot_product(ut.v, ue.v)
        |      / (sqrt(list_dot_product(ut.v, ut.v))
        |         * sqrt(list_dot_product(ue.v, ue.v))) AS cos
        |  FROM cand c
        |  JOIN u ut ON ut.vec_id = c.tid
        |  JOIN u ue ON ue.vec_id = c.eid),
        |f AS (SELECT tid, eid, cos,
        |    row_number() OVER (PARTITION BY tid
        |      ORDER BY cos DESC, eid) AS rk
        |  FROM sc WHERE cos >= 0.42)
        |SELECT tid AS vec_id, eid AS matched_eval_id,
        |  round(cos, 6) AS cos_sim
        |FROM f WHERE rk = 1 ORDER BY vec_id""".stripMargin),
    // memorization risk: 8-grams shared by ≥2 documents, per-gram
    // stride-1 repeated 8-grams: same shingle rule at n=8, grouped on
    // the gram digest
    Gate("q_repeated_ngrams", (s, d) => Dedup.repeatedNgrams(
      Tables.documents(s, d), "doc_id", "text", n = 8, minDocs = 2L))(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
        |       FROM toks, UNNEST(range(1, greatest(len(t)-6, 2))) AS u(i)),
        |g AS (SELECT md5(s) AS gram_hash,
        |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        min(doc_id) AS first_doc
        |      FROM sh GROUP BY 1)
        |SELECT gram_hash, n_docs, first_doc FROM g
        |WHERE n_docs >= 2 ORDER BY gram_hash""".stripMargin),
    // dedup governance: near-dup pairs attributed to (source, source)
    Gate("q_dup_sources", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dupSourceReport(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.8),
        docs, "doc_id", "source")
    })(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |       FROM toks, UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |dup AS (SELECT id_i, id_j,
        |          round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
        |        FROM pairs
        |        JOIN sizes sa ON sa.doc_id = id_i
        |        JOIN sizes sb ON sb.doc_id = id_j
        |        WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.8),
        |m AS (SELECT least(da.source, db.source) AS source_lo,
        |        greatest(da.source, db.source) AS source_hi, p.jaccard
        |      FROM dup p
        |      JOIN documents da ON da.doc_id = p.id_i
        |      JOIN documents db ON db.doc_id = p.id_j)
        |SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(jaccard), 6) AS mean_jaccard
        |FROM m GROUP BY 1, 2 ORDER BY source_lo, source_hi""".stripMargin),
    // live model-quality telemetry twin: per (window, score bin) counts,
    // positives, 4-decimal score totals — deterministic md5-grid scores,
    // value-threshold labels (the windowedRates determinism contract)
    // calibration-telemetry replay: same md5-grid scores and threshold
    // labels, hour buckets, 2^-20 lattice quantization before the sum
    Gate("q_windowed_calibration", (s, d) => {
      import org.apache.spark.sql.functions._
      val scored = Tables.events(s, d).select(col("ts"),
        when(col("value") > 50.0, 1L).otherwise(0L).as("label"),
        round((graft.ops.Dedup.h60(col("event_id").cast("string"))
          % 1000001L).cast("double") / 1000000.0, 6).as("score"))
      graft.streaming.Streams.windowedCalibration(scored, "ts",
        "label", "score", bins = 10)
        .orderBy("window_start", "bin")
    })(
      """WITH sc AS (SELECT CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS label,
        |    floor(round(CAST(CAST('0x' || substr(md5(CAST(event_id
        |        AS VARCHAR)), 1, 15) AS BIGINT) % 1000001 AS DOUBLE)
        |      / 1000000.0, 6) * 1048576.0) / 1048576.0 AS sq
        |  FROM events)
        |SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP)
        |    AS window_start,
        |  CAST(least(greatest(CAST(floor(sq * 10) AS INTEGER), 0), 9)
        |    AS INTEGER) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(label) AS BIGINT) AS n_pos,
        |  round(sum(sq), 4) AS score_total
        |FROM sc GROUP BY 1, 2
        |ORDER BY window_start, bin""".stripMargin),
    // character-level near-dup: prefix-blocked levenshtein pairs
    // edit-distance near-dup: identical prefix blocking + levenshtein
    // over the capped prefix
    Gate("q_edit_dist_dup", (s, d) => graft.ops.Dedup.editDistancePairs(
      Tables.documents(s, d), "doc_id", "text", blockTokens = 4,
      capChars = 80, maxDist = 10))(
      """WITH b AS (SELECT doc_id AS id, substr(text, 1, 80) AS t,
        |             array_to_string(list_slice(
        |               string_split(text, ' '), 1, 4), ' ') AS blk
        |           FROM documents)
        |SELECT a.id AS id_i, b2.id AS id_j,
        |  CAST(levenshtein(a.t, b2.t) AS INTEGER) AS edit_dist
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
        |WHERE levenshtein(a.t, b2.t) <= 10
        |ORDER BY id_i, id_j""".stripMargin),
  )

  /** `Dedup.autoPlanes(count, 6, 16)` from DuckDB's own count:
    * greatest(6, ceil(log2(ceil(n / 16)))).
    */
  private lazy val autoPlanesSql: String =
    """(SELECT greatest(6,
      |         CAST(ceil(log2(CAST(ceil(count(*) / 16.0) AS BIGINT)))
      |           AS BIGINT)) FROM embeddings)""".stripMargin

  /** [[graft.ops.Dedup.embeddingCosinePairsLsh]] at threshold 0.42:
    * pairs sharing a [[hyperplaneCtes]] bucket in any table, kept when
    * their exact cosine clears the threshold.
    */
  private def cosineDupOracle(tables: Int, planes: String): String =
    embVecCte + ",\n" + hyperplaneCtes(tables, planes) + """,
      |cand AS (SELECT DISTINCT a.vec_id AS id_i, b.vec_id AS id_j
      |         FROM bkt a JOIN bkt b
      |           ON a.tbl = b.tbl AND a.bucket = b.bucket
      |          AND a.vec_id < b.vec_id)
      |SELECT c.id_i, c.id_j,
      |  round(list_dot_product(ua.v, ub.v)
      |        / (sqrt(list_dot_product(ua.v, ua.v))
      |           * sqrt(list_dot_product(ub.v, ub.v))), 6) AS cos_sim
      |FROM cand c JOIN u ua ON ua.vec_id = c.id_i
      |JOIN u ub ON ub.vec_id = c.id_j
      |WHERE list_dot_product(ua.v, ub.v)
      |      / (sqrt(list_dot_product(ua.v, ua.v))
      |         * sqrt(list_dot_product(ub.v, ub.v))) >= 0.42
      |ORDER BY id_i, id_j""".stripMargin

  /** [[graft.ops.Dedup.ngramJaccardPairs]] (n = 3, threshold 0.8) over
    * the shingle CTEs `shingles` (`sh`, capped or not): pairs whose
    * rounded Jaccard clears the threshold, in (id_i, id_j) order.
    */
  private def jaccardPairsOracle(shingles: String): String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |""".stripMargin + shingles + ",\n" + shinglePairCtes + """
      |SELECT id_i, id_j,
      |  round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = id_i
      |JOIN sizes sb ON sb.doc_id = id_j
      |WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.8
      |ORDER BY id_i, id_j""".stripMargin

  /** [[graft.ops.Dedup.dupClusters]] output (id, cluster_id,
    * cluster_size) of the Jaccard duplicate graph; the star-round
    * variant emits the same table.
    */
  private lazy val dupClustersOracle: String =
    jaccardClosureCtes + """,
      |sz AS (SELECT cluster_id, count(*) AS cluster_size
      |       FROM lab GROUP BY cluster_id)
      |SELECT lab.id, lab.cluster_id, sz.cluster_size
      |FROM lab JOIN sz USING (cluster_id)
      |ORDER BY id""".stripMargin

  /** [[graft.ops.Dedup.minhashLshPairsAgainstIndex]] with the %5 = 0
    * docs as the new batch and the rest as the index: band-sharing
    * (new, index) pairs, est = agreeing minhash fraction (k/32 dyadic),
    * kept at est >= 0.75. `tokens` opens the query and defines `toks`.
    */
  private def minhashScreenOracle(tokens: String): String =
    tokens + minhashBandCtes + """,
      |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_index
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bsig = b.bsig
      |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
      |est AS (SELECT c.id_new, c.id_index,
      |          round(CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END)
      |                     AS DOUBLE) / 32, 6) AS est_jaccard
      |        FROM cand c
      |        JOIN mh ma ON ma.doc_id = c.id_new
      |        JOIN mh mb ON mb.doc_id = c.id_index AND mb.i = ma.i
      |        GROUP BY 1, 2)
      |SELECT id_new, id_index, est_jaccard FROM est
      |WHERE est_jaccard >= 0.75
      |ORDER BY id_new, id_index""".stripMargin

  /** The q_substring_ladder injection blurb: 37 tokens, so its
    * within-blurb windows qualify at every rung up to k = 32. */
  private val ladderBlurb = "this dataset is distributed in the hope " +
    "that it will be useful but without any warranty without even the " +
    "implied warranty of merchantability or fitness for a particular " +
    "purpose see the general public license for more details"

  /** The q_substring_ladder oracle: one span-fingerprint + qualify +
    * interval-union block per rung (the q_substring_incremental idiom
    * at each width), unioned with the rung as a column. */
  private def substringLadderOracle(ks: Seq[Int], minDocs: Int): String = {
    val rungBlocks = ks.map { k =>
      s"""sp$k AS MATERIALIZED (SELECT doc_id, i.i AS pos,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks[i.i + 1 : i.i + $k], x ->
         |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
         |          % 1048576)),
         |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
         |  FROM tk CROSS JOIN
         |    UNNEST(range(greatest(len(toks) - ${k - 1}, 0))) AS i(i)),
         |q$k AS (SELECT h FROM sp$k GROUP BY h
         |        HAVING count(DISTINCT doc_id) >= $minDocs),
         |hit$k AS (SELECT doc_id, pos FROM sp$k
         |          WHERE h IN (SELECT h FROM q$k)),
         |cov$k AS (SELECT doc_id, least($k, COALESCE(pos - lag(pos)
         |            OVER (PARTITION BY doc_id ORDER BY pos), $k)) AS c
         |          FROM hit$k),
         |ag$k AS (SELECT doc_id, $k AS k,
         |           CAST(count(*) AS BIGINT) AS n_hit_spans,
         |           CAST(sum(c) AS BIGINT) AS n_covered_tokens
         |         FROM cov$k GROUP BY 1)""".stripMargin
    }
    val arms = ks.map(k => s"SELECT * FROM ag$k").mkString(" UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$ladderBlurb ' ELSE '' END
       |    || COALESCE(text, '') || ' visit the ' || source
       |    || ' archive for more stories and daily updates from our '
       |    || 'editors' AS t
       |  FROM documents),
       |tk AS MATERIALIZED (SELECT doc_id, string_split(t, ' ') AS toks
       |                    FROM d),
       |${rungBlocks.mkString(",\n")},
       |ntk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
       |        FROM tk)
       |SELECT a.doc_id, a.k, ntk.n_tokens, a.n_hit_spans,
       |  a.n_covered_tokens,
       |  round(CAST(a.n_covered_tokens AS DOUBLE) / ntk.n_tokens, 6)
       |    AS coverage_rate
       |FROM ($arms) a JOIN ntk USING (doc_id)
       |ORDER BY a.doc_id, a.k""".stripMargin
  }

  /** The q_windowed_span_ladder oracle: per rung, the train split's
    * qualifying digests and the eval split's hour-bucketed span hits
    * (the q_windowed_span_hits idiom at each width), unioned with the
    * rung as a column. */
  private def windowedSpanLadderOracle(ks: Seq[Int],
                                       minDocs: Int): String = {
    val rungBlocks = ks.map { k =>
      s"""trsp$k AS MATERIALIZED (SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks[i.i + 1 : i.i + $k], x ->
         |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
         |          % 1048576)),
         |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
         |  FROM tr CROSS JOIN
         |    UNNEST(range(greatest(len(toks) - ${k - 1}, 0))) AS i(i)),
         |idx$k AS (SELECT h FROM trsp$k GROUP BY h
         |          HAVING count(DISTINCT doc_id) >= $minDocs),
         |nbsp$k AS (SELECT doc_id, ws,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks[i.i + 1 : i.i + $k], x ->
         |        CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
         |          % 1048576)),
         |      (a, b) -> (a * 131 + b) % 1099511627776) AS h
         |  FROM nb CROSS JOIN
         |    UNNEST(range(greatest(len(toks) - ${k - 1}, 0))) AS i(i)),
         |pd$k AS (SELECT ws, doc_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN h IN (SELECT h FROM idx$k)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS hk
         |  FROM nbsp$k GROUP BY 1, 2),
         |ag$k AS (SELECT CAST(ws AS TIMESTAMP) AS window_start,
         |    $k AS k,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS n_spans,
         |    CAST(sum(hk) AS BIGINT) AS n_hit_spans,
         |    CAST(sum(CASE WHEN hk > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_flagged_docs,
         |    round(CAST(sum(hk) AS DOUBLE) / sum(n), 6) AS hit_rate
         |  FROM pd$k GROUP BY 1)""".stripMargin
    }
    val arms = ks.map(k => s"SELECT * FROM ag$k").mkString(" UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$ladderBlurb ' ELSE '' END
       |    || COALESCE(text, '') || ' visit the ' || source
       |    || ' archive for more stories and daily updates from our '
       |    || 'editors' AS t
       |  FROM documents),
       |tr AS MATERIALIZED (SELECT doc_id, string_split(t, ' ') AS toks
       |       FROM d WHERE doc_id % 7 <> 0),
       |nb AS MATERIALIZED (SELECT doc_id,
       |         time_bucket(INTERVAL 1 HOUR,
       |           TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id))
       |           AS ws,
       |         string_split(t, ' ') AS toks
       |       FROM d WHERE doc_id % 7 = 0),
       |${rungBlocks.mkString(",\n")}
       |SELECT * FROM ($arms)
       |ORDER BY window_start, k""".stripMargin
  }

  /** The q_decontaminate_multi oracle: per n, the q_decontaminate
    * shingle join + an eval-keyed (n_shared DESC, train id) argmax,
    * LEFT-joined onto every eval doc's shingle count (clean docs stay
    * visible at 0/NULL), unioned across the sweep.
    */
  private def decontaminateMultiOracle(ns: Seq[Int]): String = {
    val per = ns.map { n =>
      s"""tsh$n AS (SELECT DISTINCT doc_id,
         |    array_to_string(t[i:i+${n - 1}], ' ') AS s
         |  FROM tr, UNNEST(range(1, greatest(len(t)-${n - 2}, 2)))
         |    AS u(i)),
         |esh$n AS (SELECT DISTINCT doc_id AS eval_id,
         |    array_to_string(t[i:i+${n - 1}], ' ') AS s
         |  FROM te, UNNEST(range(1, greatest(len(t)-${n - 2}, 2)))
         |    AS u(i)),
         |sz$n AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_shingles
         |  FROM esh$n GROUP BY 1),
         |hit$n AS (SELECT e.eval_id, t.doc_id AS tid,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM tsh$n t JOIN esh$n e USING (s) GROUP BY 1, 2),
         |wr$n AS (SELECT eval_id, tid, n_shared FROM (
         |    SELECT *, row_number() OVER (PARTITION BY eval_id
         |      ORDER BY n_shared DESC, tid) AS rk FROM hit$n)
         |  WHERE rk = 1),
         |rep$n AS (SELECT $n AS n, sz.eval_id, sz.n_shingles,
         |    wr.tid AS worst_train_id,
         |    CAST(coalesce(wr.n_shared, 0) AS BIGINT) AS n_shared,
         |    round(coalesce(wr.n_shared, 0)
         |      / CAST(sz.n_shingles AS DOUBLE), 6) AS overlap_frac
         |  FROM sz$n sz LEFT JOIN wr$n wr USING (eval_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS t
       |            FROM documents WHERE doc_id % 7 <> 0),
       |te AS (SELECT doc_id, string_split(text, ' ') AS t
       |       FROM documents WHERE doc_id % 7 = 0),
       |$per
       |SELECT CAST(n AS INTEGER) AS n, eval_id, n_shingles,
       |  worst_train_id, n_shared, overlap_frac
       |FROM (${ns.map(n => s"SELECT * FROM rep$n")
                  .mkString(" UNION ALL ")})
       |ORDER BY n, eval_id""".stripMargin
  }
}
