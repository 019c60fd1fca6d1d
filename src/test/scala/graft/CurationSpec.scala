package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Curation

/** The curation capstone: curate() must agree with the oracle-checked
  * funnel (same stage logic, one source of truth), and the pipeline must
  * be monotone (each stage only removes documents).
  */
class CurationSpec extends SparkSpec {

  test("tokenBudgetSubset: greedy-by-quality prefix semantics, exact " +
    "budget boundary, monotone in budget") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // qualities force the order c (3.0) > a (2.0) > b/d (1.0, md5 ties)
    val docs = Seq(("a", 2.0, 10L), ("b", 1.0, 10L), ("c", 3.0, 10L),
      ("d", 1.0, 10L)).toDF("id", "qual", "toks")
    def sel(budget: Long): Set[String] =
      graft.ops.Curation.tokenBudgetSubset(docs, "id", "qual", "toks", budget)
        .filter(col("selected")).select("id").collect()
        .map(_.getString(0)).toSet
    assert(sel(10L) === Set("c"))
    assert(sel(19L) === Set("c"), "a partially-fitting doc is not selected")
    assert(sel(20L) === Set("c", "a"))
    assert(sel(40L) === Set("a", "b", "c", "d"))
    assert(sel(0L) === Set.empty)
    // budget monotonicity on the real corpus shape (ties everywhere)
    val real = Tables.documents(spark, sfDir)
      .withColumn("toks", size(split(col("text"), " ")))
      .withColumn("qual", col("n_chars").cast("double") / col("toks"))
    val small = graft.ops.Curation
      .tokenBudgetSubset(real, "doc_id", "qual", "toks", 5000L)
      .filter(col("selected")).select("doc_id").collect().map(_.getLong(0)).toSet
    val big = graft.ops.Curation
      .tokenBudgetSubset(real, "doc_id", "qual", "toks", 15000L)
      .filter(col("selected")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big), "raising the budget must only add documents")
  }

  test("curate() output size equals the funnel's final stage") {
    val docs = Tables.documents(spark, sfDir)
    val curated = Curation.curate(docs, "doc_id", "text", 0.5, 3, 0.8,
      Seq("en", "de", "es", "fr")).count()
    val funnel = Curation.funnelCounts(docs, "doc_id", "text", 0.5, 3, 0.8,
      Seq("en", "de", "es", "fr"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel("4_lang") === curated)
    // monotone: each stage only removes
    assert(funnel("0_input") >= funnel("1_quality"))
    assert(funnel("1_quality") >= funnel("2_exact_dedup"))
    assert(funnel("2_exact_dedup") >= funnel("3_near_dedup"))
    assert(funnel("3_near_dedup") >= funnel("4_lang"))
  }

  private def counts(strategy: Curation.NearDup) =
    Curation.funnelCounts(Tables.documents(spark, sfDir), "doc_id", "text",
      0.5, 3, 0.8, Seq("en", "de", "es", "fr"), strategy)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("df cap in the funnel: permissive cap is a no-op, tight cap only " +
    "ever keeps MORE documents (fewer detectable pairs)") {
    val uncapped = counts(Curation.NearDup.Jaccard(None))
    // a cap above every shingle's document frequency changes nothing
    assert(counts(Curation.NearDup.Jaccard(Some(1000000L))) === uncapped)
    // a tight cap can only drop candidate pairs → never removes more docs
    val tight = counts(Curation.NearDup.Jaccard(Some(2L)))
    assert(tight("3_near_dedup") >= uncapped("3_near_dedup"))
    // stages before/after the near-dup join are cap-independent
    Seq("0_input", "1_quality", "2_exact_dedup").foreach { s =>
      assert(tight(s) === uncapped(s))
    }
  }

  test("MinHash strategy removes a SUBSET of exact Jaccard's near-dups " +
    "(candidates verified with the same exact measure)") {
    val exact = counts(Curation.NearDup.Jaccard(None))
    val mh = counts(Curation.NearDup.MinHashLsh(32, 8))
    // banding can only MISS pairs, never invent them
    assert(mh("3_near_dedup") >= exact("3_near_dedup"))
    Seq("0_input", "1_quality", "2_exact_dedup").foreach { s =>
      assert(mh(s) === exact(s))
    }
  }

  test("weightedSample: monotone in rate AND weight; weight*rate >= 1 " +
    "keeps everything; weight 0 keeps nothing") {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("w", lit(1L) + expr("n_chars div 256"))
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val lo = ids(Curation.weightedSample(docs, "doc_id", "w", 0.015625))
    val hi = ids(Curation.weightedSample(docs, "doc_id", "w", 0.03125))
    assert(lo.subsetOf(hi) && lo.size < hi.size)
    // doubling every weight at the same rate also only ADDS docs
    val heavier = ids(Curation.weightedSample(
      docs.withColumn("w", col("w") * 2), "doc_id", "w", 0.015625))
    assert(lo.subsetOf(heavier))
    // saturated threshold keeps the full corpus; zero weight keeps none
    val all = Curation.weightedSample(
      docs.withColumn("w", lit(1L)), "doc_id", "w", 1.0)
    assert(all.count() === docs.count())
    val none = Curation.weightedSample(
      docs.withColumn("w", lit(0L)), "doc_id", "w", 1.0)
    assert(none.count() === 0L)
  }

  test("lengthBuckets: partition of the corpus; waste is zero iff every " +
    "doc in the bucket has the bucket max length") {
    import spark.implicits._
    val d = (1 to 40).map(i => (i.toLong, Seq.fill(i)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.lengthBuckets(d, "doc_id", "text", buckets = 4)
      .collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === 40L)
    out.foreach { r =>
      val expect = r.getAs[Long]("max_tokens") * r.getAs[Long]("n_docs") -
        r.getAs[Long]("sum_tokens")
      assert(r.getAs[Long]("pad_waste") === expect)
      assert(r.getAs[Long]("min_tokens") <= r.getAs[Long]("max_tokens"))
    }
    // uniform-length corpus → one bucket shape with zero waste
    val flat = (1 to 10).map(i => (i.toLong, "a b c")).toDF("doc_id", "text")
    val fw = Curation.lengthBuckets(flat, "doc_id", "text", buckets = 2)
      .collect()
    assert(fw.forall(_.getAs[Long]("pad_waste") === 0L))
  }

  test("winsorize: clip counts honor the percentile tails and the " +
    "winsorized mean moves toward the center") {
    import spark.implicits._
    // 98 benign values + two wild outliers
    val v = (1 to 98).map(_.toDouble) ++ Seq(10000.0, -10000.0)
    val df = v.toDF("x")
    val r = Curation.winsorize(df, "x", 0.05, 0.95).head
    assert(r.getAs[Long]("n_clipped_lo") >= 1L)
    assert(r.getAs[Long]("n_clipped_hi") >= 1L)
    val raw = r.getAs[Double]("mean_raw")
    val win = r.getAs[Double]("mean_winsorized")
    // outliers cancel in the raw mean here, but the winsorized mean must
    // lie strictly inside the clip edges
    assert(win >= r.getAs[Double]("p_lo") && win <= r.getAs[Double]("p_hi"))
    assert(math.abs(win - 49.5) < 5.0 && math.abs(raw - 49.5) < 5.0)
  }

  test("winsorize: edges come from the dyadic-grid histogram (buffer " +
    "bounded by the value DOMAIN, not row count) and match a Scala " +
    "replay of quantize → interpolated percentile; clips use RAW values") {
    import spark.implicits._
    // fractional values so quantization is visible; duplicates so the
    // histogram is genuinely smaller than the row count
    val v = (1 to 400).map(i => (i % 40) + (i % 7) / 7.0)
    val df = v.toDF("x")
    val r = Curation.winsorize(df, "x", 0.10, 0.90).head
    // Scala replay: floor(v*16)/16, sort, linear-interpolated percentile
    // at p*(n-1) — the exact semantics of Spark percentile / quantile_cont
    val q = v.map(d => math.floor(d * 16.0) / 16.0).sorted
    def pct(p: Double): Double = {
      val pos = p * (q.size - 1)
      val lo = pos.toInt
      if (lo == q.size - 1) q(lo)
      else q(lo) + (pos - lo) * (q(lo + 1) - q(lo))
    }
    val lo = pct(0.10); val hi = pct(0.90)
    assert(r.getAs[Double]("p_lo") ===
      BigDecimal(lo).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("p_hi") ===
      BigDecimal(hi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // clip counts are against RAW (unquantized) values
    assert(r.getAs[Long]("n_clipped_lo") === v.count(_ < lo).toLong)
    assert(r.getAs[Long]("n_clipped_hi") === v.count(_ > hi).toLong)
  }

  test("negativePairs: deterministic, no self-pairs, at most k negatives, " +
    "anchors with a successor get exactly k when the bucket allows") {
    import spark.implicits._
    val d = (1L to 100L).toDF("doc_id")
    val p1 = Curation.negativePairs(d, "doc_id", k = 2, buckets = 4,
      seed = "s").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val p2 = Curation.negativePairs(d, "doc_id", k = 2, buckets = 4,
      seed = "s").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(p1 === p2)
    assert(p1.forall { case (a, _, n) => a != n })
    val perAnchor = p1.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.values.forall(_ <= 2))
    // a different seed reshuffles at least some pairs
    val p3 = Curation.negativePairs(d, "doc_id", k = 2, buckets = 4,
      seed = "t").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(p3.toSet != p1.toSet)
  }

  test("mmrSelect: diversity beats raw relevance — the near-duplicate " +
    "of the first pick is deferred behind an orthogonal document") {
    import spark.implicits._
    // v1, v2 colinear (cos = 1), v3 orthogonal; pure relevance order is
    // 1, 2, 3 but MMR at λ=1/2 must go 1, 3, 2: v2's round-2 score is
    // 0.4 − 0.5·1 = −0.1 vs v3's 0.3 − 0.5·0 = 0.3
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val rel = Seq((1L, 0.9), (2L, 0.8), (3L, 0.6)).toDF("vec_id", "rel")
    val out = graft.ops.Curation.mmrSelect(emb, "vec_id", "embedding",
      rel, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(out.map(_._2).toSeq === Seq(1L, 3L, 2L))
    assert(out(0)._3 === 0.45)            // 0.5 · 0.9, no penalty yet
    assert(out(1)._3 === 0.3)             // 0.5 · 0.6 − 0.5 · 0
    assert(out(2)._3 === -0.1)            // 0.5 · 0.8 − 0.5 · 1
  }

  test("temperatureMix: tau=1 reproduces the raw shares, tau=0.5 " +
    "up-weights the small source, budget and epochs close") {
    import spark.implicits._
    // src A: 16 tokens in 2 docs; src B: 4 tokens in 1 doc
    val docs = Seq(
      (1L, "A", "w w w w w w w w"), (2L, "A", "w w w w w w w w"),
      (3L, "B", "w w w w")).toDF("doc_id", "source", "text")
    val raw = Curation.temperatureMix(docs, "source", "text",
      tau = 1.0, targetTokens = 1000L).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(4),
        r.getLong(5))).toMap
    assert(raw("A") === ((16L, 0.8, 800L)))
    assert(raw("B") === ((4L, 0.2, 200L)))
    val temp = Curation.temperatureMix(docs, "source", "text",
      tau = 0.5, targetTokens = 1000L).collect()
      .map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(6))).toMap
    // sqrt tempering: w_A = √.8/(√.8+√.2) ≈ 0.666667 — B doubles its cut
    assert(math.abs(temp("A")._1 - 2.0 / 3) < 1e-6)
    assert(math.abs(temp("B")._1 - 1.0 / 3) < 1e-6)
    // epochs = expected/available: B must repeat ~83x to fill its cut
    assert(math.abs(temp("B")._2 - (1000.0 / 3) / 4) < 0.01)
    val e = intercept[IllegalArgumentException] {
      Curation.temperatureMix(docs, "source", "text", tau = 0.3,
        targetTokens = 1000L)
    }
    assert(e.getMessage.contains("sqrt"))
  }

  test("shrunkSourceMeans: small sources pull hard toward the global " +
    "mean, large ones barely move, credibility is n/(n+k)") {
    import spark.implicits._
    // big: 32 docs of length 100; tiny: 2 docs of length 1000
    val docs = ((1 to 32).map(i => (i.toLong, "big", 100L)) ++
      Seq((100L, "tiny", 1000L), (101L, "tiny", 1000L)))
      .toDF("doc_id", "source", "n_chars")
    val out = Curation.shrunkSourceMeans(docs, "source", "n_chars",
      k = 16).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val global = 5200.0 / 34
    val (nB, rawB, shrB, credB) = out("big")
    val (nT, rawT, shrT, credT) = out("tiny")
    assert((nB, rawB) === ((32L, 100.0)) && (nT, rawT) === ((2L, 1000.0)))
    // blend: (sum + k·global)/(n + k)
    assert(math.abs(shrB - (3200 + 16 * global) / 48) < 1e-6)
    assert(math.abs(shrT - (2000 + 16 * global) / 18) < 1e-6)
    // the 2-doc source travels most of the way to the global mean; the
    // 32-doc source keeps most of its own signal
    // tiny keeps n/(n+k) = 1/9 of its distance; big keeps 2/3
    assert(math.abs(shrT - global) < 0.12 * math.abs(rawT - global))
    assert(math.abs(shrB - global) > 0.6 * math.abs(rawB - global))
    assert(math.abs(credB - 32.0 / 48) < 1e-6)
    assert(math.abs(credT - 2.0 / 18) < 1e-6)
  }

  test("urlCanonicalize: scheme/host case, default ports, trailing " +
    "slash, utm stripping — and the equivalences it deliberately " +
    "does NOT apply") {
    import spark.implicits._
    def canon(url: String): (String, String) = {
      val r = Curation.urlCanonicalize(
        Seq((1L, url)).toDF("id", "url"), "url")
        .select("canonical_url", "domain").head
      (r.getString(0), r.getString(1))
    }
    // the classic collapse: case + default port + trailing slash + utm
    assert(canon("HTTP://WWW.Site.COM:80/a/?utm_source=x") ===
      ("http://www.site.com/a", "site.com"))
    // :80 on httpS is NOT a default port — kept; path case preserved
    assert(canon("https://H.com:80/A/B") ===
      ("https://h.com:80/A/B", "h.com"))
    // non-default port kept in the URL, stripped from the domain
    assert(canon("http://h.com:8080/x") ===
      ("http://h.com:8080/x", "h.com"))
    // empty path and multi-slash tails normalize to the root
    assert(canon("http://h.com")._1 === "http://h.com/")
    assert(canon("http://h.com///")._1 === "http://h.com/")
    // utm params vanish wherever they sit; others keep their ORDER
    assert(canon("http://h.com/p?utm_a=1&b=2")._1 === "http://h.com/p?b=2")
    assert(canon("http://h.com/p?a=1&utm_b=2&c=3")._1 ===
      "http://h.com/p?a=1&c=3")
    assert(canon("http://h.com/p?utm_medium=email")._1 === "http://h.com/p")
    // query REORDERING is not collapsed — a documented policy choice
    assert(canon("http://h.com/p?a=1&b=2")._1 !==
      canon("http://h.com/p?b=2&a=1")._1)
    // www is kept in the canonical URL (it can resolve differently),
    // stripped only in the domain reporting key
    assert(canon("http://www.h.com/p") ===
      ("http://www.h.com/p", "h.com"))
  }

  test("urlCanonDedup: docs sharing a canonical URL collapse to one " +
    "row with the minimum id surviving") {
    import spark.implicits._
    val docs = Seq(
      (7L, "HTTP://A.com:80/x/"),
      (3L, "http://a.COM/x"),
      (9L, "http://a.com/x?utm_source=z"),
      (5L, "http://a.com/y")).toDF("doc_id", "url")
    val out = Curation.urlCanonDedup(docs, "doc_id", "url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq === Seq(
      ("http://a.com/x", "a.com", 3L, 3L),
      ("http://a.com/y", "a.com", 1L, 5L)))
  }

  test("kAnonymityReport: class sizes, l-diversity with NULL as a " +
    "value, deterministic worst-class pick") {
    import spark.implicits._
    // classes: (x,1) 1 row [l=1]; (y,1) 2 rows same sens [l=1];
    // (y,2) 3 rows {p, q, NULL} [l=3 — NULL counts as a value]
    val df = Seq(
      ("x", 1, Some("p")),
      ("y", 1, Some("p")), ("y", 1, Some("p")),
      ("y", 2, Some("p")), ("y", 2, Some("q")), ("y", 2, None))
      .toDF("qa", "qb", "sens")
    val r = Curation.kAnonymityReport(df, Seq("qa", "qb"), "sens", k = 2)
      .head
    assert(r.getAs[Long]("n_rows") === 6L)
    assert(r.getAs[Long]("n_classes") === 3L)
    assert(r.getAs[Long]("k_anonymity") === 1L)
    assert(r.getAs[Long]("classes_below_k") === 1L)
    assert(r.getAs[Long]("rows_below_k") === 1L)
    assert(r.getAs[Double]("pct_rows_below_k") === 0.166667)
    assert(r.getAs[Long]("min_l_diversity") === 1L)
    assert(r.getAs[Long]("classes_l1") === 2L)
    assert(r.getAs[String]("worst_qa") === "x")
    assert(r.getAs[Int]("worst_qb") === 1)
  }

  test("essReport: uniform weights cost nothing (ESS = n, deff = 1); " +
    "one dominating weight collapses ESS toward 1") {
    import spark.implicits._
    val cells = Seq(
      ("flat", 10L, 1.0),
      ("skew", 1L, 10.0), ("skew", 9L, 0.1))
      .toDF("grp", "n", "w")
    val out = graft.ops.Curation.essReport(cells, "grp", "n", "w")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("ess"),
          r.getAs[Double]("design_effect"))).toMap
    assert(out("flat")._1 === 10L && out("flat")._2 === 10.0)
    assert(out("flat")._3 === 1.0)
    assert(out("skew")._2 < 2.0,
      "one row carrying 10x weight makes the sample worth ~1 row")
    assert(out("skew")._3 > 5.0)
  }

  test("rakeWeights: a symmetric 2x2 skew rakes to equal margins " +
    "within 3 rounds; symmetric cells share symmetric weights") {
    import spark.implicits._
    // cells a-x:3, a-y:1, b-x:1, b-y:3 — both margins already 4/4 on
    // rows AND cols, but the cells are skewed; raking keeps margins at
    // 0.5 and leaves a symmetric weight pattern
    val docs = (Seq.fill(3)(("a", "x")) ++ Seq.fill(1)(("a", "y")) ++
      Seq.fill(1)(("b", "x")) ++ Seq.fill(3)(("b", "y")))
      .toDF("source", "lang")
    val out = Curation.rakeWeights(docs, "source", "lang")
      .collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("row_share") - 0.5) < 1e-3)
      assert(math.abs(r.getAs[Double]("col_share") - 0.5) < 1e-3)
    }
    val byCell = out.map(r => (r.getAs[String]("source"),
      r.getAs[String]("lang")) -> r.getAs[Double]("weight")).toMap
    assert(byCell(("a", "x")) === byCell(("b", "y")))
    assert(byCell(("a", "y")) === byCell(("b", "x")))
    assert(math.abs(out.map(_.getAs[Double]("weighted_share")).sum
      - 1.0) < 1e-4)
  }

  test("bpeFertility: fertility monotone non-increasing in vocab " +
    "size per source; checkpoint 0 is raw characters") {
    val docs = Tables.documents(spark, sfDir)
    val merges = graft.ops.Text.bpeMerges(docs, "doc_id", "text",
      rounds = 8)
    val out = graft.ops.Text.bpeFertility(docs, "text", "source",
      merges, checkpoints = Seq(0, 2, 4, 8)).collect()
    assert(out.nonEmpty)
    // at 0 merges every token is one character: fertility equals
    // mean word length and chars_per_token is exactly 1
    out.filter(_.getAs[Int]("n_merges") == 0).foreach { r =>
      assert(r.getAs[Double]("chars_per_token") === 1.0)
      assert(r.getAs[Double]("tokens_per_word") > 1.0)
    }
    // each additional merge can only shrink (or keep) a word's token
    // count, so fertility is non-increasing and compression is
    // non-decreasing in the checkpoint, per source
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val byCp = rows.sortBy(_.getAs[Int]("n_merges"))
      byCp.sliding(2).foreach { w =>
        assert(w(1).getAs[Double]("tokens_per_word") <=
          w(0).getAs[Double]("tokens_per_word"))
        assert(w(1).getAs[Double]("chars_per_token") >=
          w(0).getAs[Double]("chars_per_token"))
        assert(w(1).getAs[Long]("n_words") === w(0).getAs[Long]("n_words"),
          "checkpoints re-weigh the same words, never drop any")
      }
    }
  }

  test("dsirSelect: target-like docs dominate the draw, the Gumbel " +
    "noise is a deterministic function of the id, and weights separate " +
    "the vocabularies") {
    import spark.implicits._
    val target = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river"),
      (901L, "a calm morning walk along the river bank under tall trees"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // target-vocabulary docs: strongly positive log-ratio
      (1L, "the quick brown fox walks along the river bank"),
      (2L, "a lazy dog jumps over the calm river near tall trees"),
      (3L, "the morning walk near the river under the brown trees"),
      // alien-vocabulary docs: strongly negative
      (4L, "zzz qqq www xxx kkk ppp fff zzz qqq www"),
      (5L, "jjj vvv bbb nnn mmm hhh ggg jjj vvv bbb"),
      (6L, "yyy uuu iii ooo rrr ttt eee yyy uuu iii")
    ).toDF("doc_id", "text")
    val out = Curation.dsirSelect(target, corpus, "doc_id", "text",
      k = 3, nBuckets = 64)
    val rows = out.collect()
    val picked = rows.map(_.getAs[Long]("doc_id")).toSet
    // the weight gap (tens of key units) dwarfs the Gumbel range
    // (~[-2, 6]), so the draw must take exactly the target-like docs
    assert(picked === Set(1L, 2L, 3L), s"picked $picked")
    assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2, 3))
    // weights really separate: every selected weight is positive-ish,
    // and re-scoring shows the alien docs far below (k = 6 run)
    val all = Curation.dsirSelect(target, corpus, "doc_id", "text",
      k = 6, nBuckets = 64).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("w_micro_sum"))
      .toMap
    assert(Seq(1L, 2L, 3L).map(all).min > Seq(4L, 5L, 6L).map(all).max)
    // determinism: the identical call returns the identical frame
    val again = Curation.dsirSelect(target, corpus, "doc_id", "text",
      k = 3, nBuckets = 64).collect().map(_.toString).toSeq
    assert(again === rows.map(_.toString).toSeq)
  }

  test("dsirMixReport: the selection's source mix shifts toward the " +
    "target-like source, shares reconcile, deltas sum to zero") {
    import spark.implicits._
    val target = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river"),
      (901L, "a calm morning walk along the river bank under tall trees"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox walks along the river bank", "prose"),
      (2L, "a lazy dog jumps over the calm river near tall trees", "prose"),
      (3L, "the morning walk near the river under the brown trees", "prose"),
      (4L, "zzz qqq www xxx kkk ppp fff zzz qqq www", "junk"),
      (5L, "jjj vvv bbb nnn mmm hhh ggg jjj vvv bbb", "junk"),
      (6L, "yyy uuu iii ooo rrr ttt eee yyy uuu iii", "junk")
    ).toDF("doc_id", "text", "source")
    val out = Curation.dsirMixReport(target, corpus, "doc_id", "text",
      "source", k = 3, nBuckets = 64).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // base rates: 3 prose + 3 junk; the draw takes the 3 prose docs
    assert(out("prose").getAs[Long]("n_corpus") === 3L &&
      out("junk").getAs[Long]("n_corpus") === 3L)
    assert(out("prose").getAs[Long]("n_selected") === 3L &&
      out("junk").getAs[Long]("n_selected") === 0L)
    assert(out("prose").getAs[Double]("corpus_share") === 0.5)
    assert(out("prose").getAs[Double]("selected_share") === 1.0)
    assert(out("prose").getAs[Double]("delta_share") === 0.5 &&
      out("junk").getAs[Double]("delta_share") === -0.5)
    // reconciliation: selected counts sum to k, deltas cancel
    assert(out.values.map(_.getAs[Long]("n_selected")).sum === 3L)
    assert(math.abs(out.values.map(_.getAs[Double]("delta_share")).sum)
      < 1e-9)
  }

  test("mixBudgetApply: capped sources keep everything (rate exactly " +
    "1), the uncapped source keeps a real subset, and the kept set is " +
    "deterministic") {
    import spark.implicits._
    val docs = (
      (1 to 40).map(i => (s"a$i", "a", List.fill(100)("x").mkString(" "))) ++
      (1 to 10).map(i => (s"b$i", "b", List.fill(100)("x").mkString(" "))) ++
      (1 to 2).map(i => (s"c$i", "c", List.fill(100)("x").mkString(" "))))
      .toDF("id", "source", "text")
    val out = Curation.mixBudgetApply(docs, "id", "source", "text",
      tau = 0.25, budgetNum = 3, budgetDen = 4)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // waterfill on this fixture caps b and c (tempered weights ask for
    // more than one epoch); their rate is exactly 1 -> keep ALL docs
    assert(out("b").getAs[Long]("kept_docs") === 10L)
    assert(out("c").getAs[Long]("kept_docs") === 2L)
    assert(out("b").getAs[Double]("planned_rate") === 1.0)
    // the big source absorbs the remainder: a real subset
    val ka = out("a").getAs[Long]("kept_docs")
    assert(ka > 0L && ka < 40L, s"source a kept $ka of 40")
    assert(out("a").getAs[Long]("kept_tokens") === ka * 100L)
    // deterministic: a second run returns the identical table
    val again = Curation.mixBudgetApply(docs, "id", "source", "text",
      tau = 0.25, budgetNum = 3, budgetDen = 4).collect().toSeq
    val first = Curation.mixBudgetApply(docs, "id", "source", "text",
      tau = 0.25, budgetNum = 3, budgetDen = 4).collect().toSeq
    assert(again.map(_.toSeq) === first.map(_.toSeq))
    // real corpus invariants
    val real = Curation.mixBudgetApply(Tables.documents(spark, sfDir),
      "doc_id", "source", "text", 0.25, 19, 20).collect()
    real.foreach { r =>
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("planned_tokens") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("selectionDiversityReport: k = corpus makes all three scopes " +
    "identical with hand-computed token/shingle counts; on the real " +
    "corpus the scopes are size-correct and ratios are sane") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat"),
      (2L, "the cat sat"),
      (3L, "a b c d")).toDF("doc_id", "text")
    val target = Seq((100L, "the cat")).toDF("doc_id", "text")
    val out = Curation.selectionDiversityReport(target, corpus,
      "doc_id", "text", k = 3).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    assert(out.keySet === Set("1_corpus", "2_dsir_selected",
      "3_hash_baseline"))
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 3L)
      assert(r.getAs[Long]("n_tokens") === 10L)
      assert(r.getAs[Long]("distinct_tokens") === 7L)
      assert(r.getAs[Double]("ttr") === 0.7)
      assert(r.getAs[Long]("n_shingles") === 4L,
        "3-token docs yield 1 shingle, the 4-token doc yields 2")
      assert(r.getAs[Long]("distinct_shingles") === 3L)
      assert(r.getAs[Double]("shingle_ttr") === 0.75)
    }
    // real corpus: scope sizes and basic dominance
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val real = Curation.selectionDiversityReport(
      Seq((900L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      docs, "doc_id", "text", k = 10).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    assert(real("1_corpus").getAs[Long]("n_docs") === n)
    assert(real("2_dsir_selected").getAs[Long]("n_docs") === 10L)
    assert(real("3_hash_baseline").getAs[Long]("n_docs") === 10L)
    real.values.foreach { r =>
      assert(r.getAs[Long]("distinct_tokens") <= r.getAs[Long]("n_tokens"))
      val ttr = r.getAs[Double]("ttr")
      assert(ttr > 0.0 && ttr <= 1.0)
    }
    assert(real("3_hash_baseline").getAs[Long]("distinct_tokens") <=
      real("1_corpus").getAs[Long]("distinct_tokens"))
  }

  test("selectionDiversityReport: the fused tagged-explode gram pass " +
    "(r17) keeps each granularity's NULL-text contract — a NULL text " +
    "contributes zero tokens but ONE empty shingle (the retired " +
    "two-pass spelling's exact counts)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat"),
      (2L, null.asInstanceOf[String]),
      (3L, "a b c d")).toDF("doc_id", "text")
    val target = Seq((100L, "the cat")).toDF("doc_id", "text")
    val out = Curation.selectionDiversityReport(target, corpus,
      "doc_id", "text", k = 3).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    // the corpus and hash-baseline scopes hold all three docs (the
    // DSIR selection legitimately drops the unscorable NULL doc)
    for (s <- Seq("1_corpus", "3_hash_baseline")) {
      val r = out(s)
      assert(r.getAs[Long]("n_docs") === 3L)
      // the NULL doc adds no tokens: 3 + 4
      assert(r.getAs[Long]("n_tokens") === 7L)
      assert(r.getAs[Long]("distinct_tokens") === 7L)
      // 1 (doc 1) + 1 EMPTY (null doc, size(NULL)->0 window) + 2 (doc 3)
      assert(r.getAs[Long]("n_shingles") === 4L)
      assert(r.getAs[Long]("distinct_shingles") === 4L,
        "the null doc's empty shingle is its own distinct value")
    }
  }

  test("selectionDiversityReport: a scope whose every doc has NULL text " +
    "is emitted with zero tokens, a NULL token ratio and one empty " +
    "shingle per doc") {
    import spark.implicits._
    // k = 1: the hash baseline is the md5-first id alone; give that doc
    // the only NULL text
    val ids = Seq(1L, 2L, 3L, 4L)
    val first = ids.toDF("doc_id")
      .orderBy(graft.ops.Dedup.h60(col("doc_id").cast("string")),
        col("doc_id"))
      .head.getLong(0)
    val corpus = ids.map(i =>
      (i, if (i == first) null else s"the cat sat on mat $i"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "the cat sat")).toDF("doc_id", "text")
    val out = Curation.selectionDiversityReport(target, corpus,
      "doc_id", "text", k = 1).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    val b = out("3_hash_baseline")
    assert(b.getAs[Long]("n_docs") === 1L)
    assert(b.getAs[Long]("n_tokens") === 0L)
    assert(b.getAs[Long]("distinct_tokens") === 0L)
    assert(b.isNullAt(b.fieldIndex("ttr")))
    assert(b.getAs[Long]("n_shingles") === 1L)
    assert(b.getAs[Long]("distinct_shingles") === 1L)
    assert(b.getAs[Double]("shingle_ttr") === 1.0)
    // the other scopes are unaffected: the corpus counts 3 texts of 6
    // tokens, and the selection skips the unscorable NULL doc
    assert(out("1_corpus").getAs[Long]("n_tokens") === 18L)
    assert(out("2_dsir_selected").getAs[Long]("n_tokens") === 6L)
  }

  test("ccnetPipeline: stage counts are a monotone funnel, stage 0 " +
    "matches the batch, the lang stage matches the standalone langId, " +
    "and dedup keeps exactly one doc per surviving digest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val labeled = graft.ops.Text.qualityFixture.toDF("doc_id", "y", "text")
    val out = Curation.ccnetPipeline(train, batch, labeled,
      "doc_id", "text", "y", "source").collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(out.keySet === Set("0_input", "1_lang", "2_ppl",
      "3_classifier", "4_exact_dedup"))
    // stage 0 is the batch, exactly
    assert(out("0_input")._1 === batch.count())
    assert(out("0_input")._2 === batch
      .agg(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0))
    // monotone funnel in both docs and tokens
    val order = Seq("0_input", "1_lang", "2_ppl", "3_classifier",
      "4_exact_dedup").map(out)
    order.zip(order.tail).foreach { case ((nd, nt), (nd2, nt2)) =>
      assert(nd2 <= nd && nt2 <= nt)
    }
    // the lang stage is the standalone projection's count
    val langN = batch.filter(
      graft.ops.Text.predLangExpr(col("text")) === "en").count()
    assert(out("1_lang")._1 === langN)
    // the funnel keeps a real share: something passes, something fails
    assert(out("4_exact_dedup")._1 > 0L)
    assert(out("2_ppl")._1 < out("1_lang")._1,
      "the tail third must actually be cut")
  }

  test("pipelineMix: the capstone's per-source survivors equal the " +
    "funnel's stage-4 totals, kept never exceeds surviving, and the " +
    "apply side honors the waterfill invariants") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val labeled = graft.ops.Text.qualityFixture.toDF("doc_id", "y", "text")
    val funnel = Curation.ccnetPipeline(train, batch, labeled,
      "doc_id", "text", "y", "source").collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val mix = Curation.pipelineMix(train, batch, labeled,
      "doc_id", "text", "y", "source", tau = 0.25,
      budgetNum = 19L, budgetDen = 20L).collect()
    // the capstone's survivor totals ARE the funnel's last stage —
    // the two gates can never tell different stories
    assert(mix.map(_.getAs[Long]("surv_docs")).sum ===
      funnel("4_exact_dedup")._1)
    assert(mix.map(_.getAs[Long]("surv_tokens")).sum ===
      funnel("4_exact_dedup")._2)
    mix.foreach { r =>
      // realized keeps are a subset of survivors
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("surv_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("surv_tokens"))
      // maxEpochs = 1: no source is planned above its own supply
      assert(r.getAs[Long]("planned_tokens") <=
        r.getAs[Long]("surv_tokens"))
      // a positive plan always ships something (the min-one-bucket rule)
      if (r.getAs[Long]("planned_tokens") > 0L)
        assert(r.getAs[Long]("kept_docs") >= 0L)
    }
    // the total allocation respects the global budget
    val planned = mix.map(_.getAs[Long]("planned_tokens")).sum
    val totalSurv = mix.map(_.getAs[Long]("surv_tokens")).sum
    assert(planned <= totalSurv)
  }

  test("ccnetPipeline/pipelineMix published-artifact paths: scoring " +
    "against a published LM count index, and consuming the parquet " +
    "round-tripped funnel-flags table, are bit-identical to the " +
    "inline chains (r17 publish-split witness)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val labeled = graft.ops.Text.qualityFixture.toDF("doc_id", "y", "text")
    val dir = tempDir("graft_flags_rt").toString
    graft.ops.Text.lmCountIndex(train, "text")
      .write.mode("overwrite").parquet(dir + "/lm5")
    val idx = spark.read.parquet(dir + "/lm5")
    // funnel: inline LM vs published index
    val funnelInline = Curation.ccnetPipeline(train, batch, labeled,
      "doc_id", "text", "y", "source").collect()
    val funnelViaIdx = Curation.ccnetPipeline(train, batch, labeled,
      "doc_id", "text", "y", "source",
      lmIndex = Some(idx)).collect()
    assert(funnelInline.sameElements(funnelViaIdx))
    // capstone: inline chains vs the published flags parameter table
    val mixInline = Curation.pipelineMix(train, batch, labeled,
      "doc_id", "text", "y", "source", tau = 0.25,
      budgetNum = 19L, budgetDen = 20L).collect()
    Curation.ccnetFlagsFrame(train, batch, labeled, "doc_id", "text",
      "y", "source", lmIndex = Some(idx))
      .write.mode("overwrite").parquet(dir + "/flags")
    val mixViaFlags = Curation.pipelineMixFromFlags(
      spark.read.parquet(dir + "/flags"), "doc_id", tau = 0.25,
      budgetNum = 19L, budgetDen = 20L).collect()
    assert(mixInline.sameElements(mixViaFlags))
  }

  test("mixBudgetApply: a positive allocation below one 2^-20 bucket " +
    "still keeps the bucket-0 docs (the min-one-bucket rule)") {
    import spark.implicits._
    // the edge needs a source with > 2^20 tokens and an allocation
    // below n_tokens/2^20: 16 docs x 131072 tokens = 2^21 tokens, a
    // 1/2^21 budget -> alloc_tokens = 1, floor(rate * 2^20) = 0 — the
    // pre-fix rule kept NOTHING against a positive plan. Doc id 302510
    // is a precomputed bucket-0 id (h60(md5('mba_302510')) % 2^20 = 0),
    // so exactly that doc must survive under the min-one-bucket rule.
    val text = List.fill(131072)("w").mkString(" ")
    val ids = 302510L +: (1L to 15L)
    val docs = ids.map(i => (i, "a", text)).toDF("id", "source", "text")
    val out = Curation.mixBudgetApply(docs, "id", "source", "text",
      tau = 1.0, budgetNum = 1L, budgetDen = 2097152L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("planned_tokens") === 1L,
      "fixture arithmetic: the waterfill must allocate exactly 1 token")
    assert(r.getAs[Long]("kept_docs") === 1L,
      "a positive allocation must keep the bucket-0 docs, not zero")
    assert(r.getAs[Long]("kept_tokens") === 131072L)
    // the rule is monotone: raising the budget never drops a kept doc
    val big = Curation.mixBudgetApply(docs, "id", "source", "text",
      tau = 1.0, budgetNum = 1L, budgetDen = 2L).collect().head
    assert(big.getAs[Long]("kept_docs") >= r.getAs[Long]("kept_docs"))
  }

  test("mixBudgetPlan: one-pass waterfilling agrees with the iterative " +
    "reference on a skewed fixture; caps and budget are respected") {
    import spark.implicits._
    // heavy skew so the tempered weights overshoot the small sources'
    // epoch caps and the waterfill actually has to cap a prefix
    val sizes = Seq("a" -> 10000, "b" -> 5000, "c" -> 1000,
      "d" -> 100, "e" -> 50)
    val docs = sizes.map { case (s, n) =>
      (s, List.fill(n)("x").mkString(" "))
    }.toDF("source", "text")
    val tau = 0.25; val maxEpochs = 2
    val out = Curation.mixBudgetPlan(docs, "source", "text", tau,
      budgetNum = 3, budgetDen = 4, maxEpochs = maxEpochs)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // iterative reference: repeatedly cap the sources the current level
    // overfills, redistribute, until stable
    val n = sizes.map(_._2.toLong)
    val nTot = n.sum
    val b = math.floor(nTot * 3 / 4.0).toLong
    val p = n.map(_.toDouble / nTot)
    val pt = p.map(x => math.sqrt(math.sqrt(x)))
    val z = pt.sum
    val w = pt.map(_ / z)
    val cap = n.map(_ * maxEpochs)
    var capped = Set.empty[Int]
    var stable = false
    var level = 0.0
    while (!stable) {
      val rem = b - capped.map(cap(_)).sum
      val wRem = sizes.indices.filterNot(capped).map(w(_)).sum
      level = rem / wRem
      val newly = sizes.indices.filterNot(capped)
        .filter(i => level * w(i) >= cap(i)).toSet
      if (newly.isEmpty) stable = true else capped ++= newly
    }
    sizes.zipWithIndex.foreach { case ((s, _), i) =>
      val row = out(s)
      assert(row.getAs[Boolean]("capped") === capped.contains(i),
        s"capped flag for $s")
      val expect = if (capped.contains(i)) cap(i).toDouble
      else level * w(i)
      assert(math.abs(row.getAs[Long]("alloc_tokens") - expect) <= 1.0,
        s"allocation for $s")
      assert(row.getAs[Long]("alloc_tokens") <= row.getAs[Long]("cap_tokens"))
    }
    // the budget is exhausted up to per-source rounding
    val total = out.values.map(_.getAs[Long]("alloc_tokens")).sum
    assert(math.abs(total - b) <= sizes.size,
      s"total $total should meet the budget $b")
    // budget above total capacity: everything capped, level null
    val flood = Curation.mixBudgetPlan(docs, "source", "text", tau,
      budgetNum = 10, budgetDen = 1, maxEpochs = 1).collect()
    assert(flood.forall(_.getAs[Boolean]("capped")))
    assert(flood.forall(r =>
      r.getAs[Long]("alloc_tokens") === r.getAs[Long]("cap_tokens")))
    assert(flood.forall(_.isNullAt(flood.head.fieldIndex("fill_level"))))
    // invariants on the real corpus shape
    val real = Curation.mixBudgetPlan(Tables.documents(spark, sfDir),
      "source", "text", 0.25, 19, 20, maxEpochs = 1).collect()
    assert(real.forall(r =>
      r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap_tokens")))
    assert(real.forall(r => r.getAs[Double]("epochs") <= 1.0001))
  }

  test("trainingOrder: stages are monotone in score, quartile-balanced " +
    "by the exact-integer ECDF, and the order is a pure function of " +
    "the seed") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val ord = graft.ops.Curation.trainingOrder(docs, "doc_id",
      "n_tokens", nStages = 4, seed = "cur1").collect()
    val n = ord.length
    assert(n > 0)
    // monotone: a doc with a smaller score never lands in a later stage
    val byScore = ord.sortBy(r => (r.getAs[Long]("score"),
      r.getAs[Int]("stage")))
    assert(byScore.zip(byScore.tail).forall { case (a, b) =>
      a.getAs[Long]("score") < b.getAs[Long]("score") ||
        a.getAs[Int]("stage") <= b.getAs[Int]("stage") })
    // each stage holds at least one doc and at most the ECDF bound:
    // cume at the s-th cut first crosses s/4, so a stage can overshoot
    // only by the ties at its threshold value
    val perStage = ord.groupBy(_.getAs[Int]("stage")).view
      .mapValues(_.length).toMap
    assert(perStage.keySet === Set(1, 2, 3, 4))
    // the emitted row order IS (stage, shuffle_key, doc_id)
    val key = ord.map(r => (r.getAs[Int]("stage"),
      r.getAs[Long]("shuffle_key"), r.getAs[Long]("doc_id")))
    assert(key.sameElements(key.sorted))
    // same seed reproduces; a different seed permutes within stages
    val again = graft.ops.Curation.trainingOrder(docs, "doc_id",
      "n_tokens", nStages = 4, seed = "cur1").collect()
    assert(ord.map(_.getAs[Long]("doc_id"))
      .sameElements(again.map(_.getAs[Long]("doc_id"))))
    val other = graft.ops.Curation.trainingOrder(docs, "doc_id",
      "n_tokens", nStages = 4, seed = "cur2").collect()
    assert(!ord.map(_.getAs[Long]("doc_id"))
      .sameElements(other.map(_.getAs[Long]("doc_id"))))
    // stages are IDENTICAL across seeds — only the within-stage
    // shuffle moves
    assert(ord.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("stage"))
      .toMap === other.map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Int]("stage")).toMap)
  }

  test("contextSweep: exact accounting (kept+truncated=total, padding " +
    "closes the capacity), packing never wastes more than padding, " +
    "and fit/truncation are monotone in ctx") {
    val sw = graft.ops.Curation.contextSweep(
      Tables.documents(spark, sfDir), "doc_id", "text",
      ctxs = Seq(32, 64, 128, 256)).collect()
    assert(sw.length === 4)
    sw.foreach { r =>
      val ctx = r.getAs[Long]("ctx")
      assert(r.getAs[Long]("kept_tokens") +
        r.getAs[Long]("truncated_tokens") ===
        r.getAs[Long]("total_tokens"))
      assert(r.getAs[Long]("padding_tokens") ===
        r.getAs[Long]("n_docs") * ctx - r.getAs[Long]("kept_tokens"))
      // stream capacity always covers the whole corpus
      assert(r.getAs[Long]("n_streams") * ctx >=
        r.getAs[Long]("total_tokens"))
      assert(r.getAs[Double]("packed_util") <= 1.0)
      // packing wastes at most one partial chunk per group
      assert(r.getAs[Long]("n_streams") * ctx -
        r.getAs[Long]("total_tokens") < 8L * ctx)
    }
    val byCtx = sw.sortBy(_.getAs[Long]("ctx"))
    val fits = byCtx.map(_.getAs[Long]("n_fit"))
    assert(fits.zip(fits.tail).forall { case (a, b) => a <= b })
    val trunc = byCtx.map(_.getAs[Long]("truncated_tokens"))
    assert(trunc.zip(trunc.tail).forall { case (a, b) => a >= b })
  }

  test("trainingOrder: NULL scores land in explicit stage 0, first") {
    import spark.implicits._
    val docs = Seq((1L, Some(5L)), (2L, None), (3L, Some(1L)),
      (4L, Some(9L)), (5L, Some(3L))).toDF("doc_id", "n_tokens")
    val ord = graft.ops.Curation.trainingOrder(docs, "doc_id",
      "n_tokens", nStages = 2, seed = "s").collect()
    assert(ord.head.getAs[Long]("doc_id") === 2L)
    assert(ord.head.getAs[Int]("stage") === 0)
    assert(ord.map(_.getAs[Int]("stage")).toSet === Set(0, 1, 2))
  }
}
