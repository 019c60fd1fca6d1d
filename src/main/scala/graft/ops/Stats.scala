package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical statistical tests and robust summaries over corpus columns —
  * the EDA layer of the reference's analysis notebooks
  * (`streamlit/weather_analysis.py:81-101` computes a Pearson correlation
  * matrix and eyeballs monotone relationships; `covid_analysis.py`'s
  * categorical breakdowns are contingency reading without the test). These
  * make those reads quantitative, engine-side:
  *
  *  - [[spearmanCorr]] — rank correlation (monotone association that
  *    Pearson misses on nonlinear-but-monotone pairs).
  *  - [[chiSquare]] — chi-squared independence over two categorical
  *    columns + Cramér's V effect size.
  *  - [[madOutliers]] — per-key robust outlier counts via median absolute
  *    deviation (the robust twin of the rolling z-score in
  *    [[Windows]]; immune to the outliers it is hunting).
  *  - [[groupedOls]] — per-key simple linear regression from distributed
  *    moment sums (the grouped form of [[Models.fitLinear3]]).
  */
object Stats {

  /** Spearman rank correlation between two numeric columns.
    *
    * Ranks are AVERAGE ranks (ties share the mean of their positions —
    * scipy `spearmanr` semantics), computed per DISTINCT value: one
    * groupBy per column collapses the corpus to its value domain, a
    * cumulative window over that bounded domain assigns
    * `below + (count+1)/2`, and the rank tables broadcast-join back onto
    * the rows. Scale contract: the distinct-value domains must be
    * broadcastable (discretized/rounded measures — same posture as
    * [[Drift.ksDrift]]); the corpus itself never passes through a single
    * partition, and the final Pearson-of-ranks is one scalar aggregate.
    */
  def spearmanCorr(df: DataFrame, c1: String, c2: String): DataFrame = {
    val base = df.select(col(c1).cast("double").as("__x"),
        col(c2).cast("double").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    def rankTable(vc: String): DataFrame = {
      val w = Window.orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.groupBy(col(vc)).agg(count(lit(1)).as("__c"))
        .select(col(vc),
          (sum(col("__c")).over(w) - col("__c")
            + (col("__c") + lit(1)) / lit(2.0)).as(s"__r$vc"))
    }
    base
      .join(broadcast(rankTable("__x")), Seq("__x"))
      .join(broadcast(rankTable("__y")), Seq("__y"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("__r__x"), col("__r__y")), 6).as("spearman"))
  }

  /** Chi-squared test of independence between two categorical columns,
    * plus Cramér's V effect size (bias-uncorrected, the textbook
    * `sqrt(chi2 / (n * min(r-1, c-1)))`).
    *
    * One groupBy collapses the corpus to the contingency table; the
    * row/column marginals and the chi-squared sum are windows and an
    * aggregate over that table, which is bounded by the category-domain
    * product — never corpus-sized. NULL categories are excluded (a
    * missing label is a data-quality signal, not a category).
    */
  def chiSquare(df: DataFrame, c1: String, c2: String): DataFrame = {
    val obs = df
      .where(col(c1).isNotNull && col(c2).isNotNull)
      .groupBy(col(c1).as("__a"), col(c2).as("__b"))
      .agg(count(lit(1)).cast("double").as("__o"))
    val byA = Window.partitionBy("__a")
    val byB = Window.partitionBy("__b")
    val whole = Window.partitionBy()
    val cells = obs
      .withColumn("__ra", sum(col("__o")).over(byA))
      .withColumn("__cb", sum(col("__o")).over(byB))
      .withColumn("__n", sum(col("__o")).over(whole))
      .withColumn("__e", col("__ra") * col("__cb") / col("__n"))
    cells.agg(
        max(col("__n")).cast("long").as("n"),
        countDistinct(col("__a")).as("__nr"),
        countDistinct(col("__b")).as("__nc"),
        sum((col("__o") - col("__e")) * (col("__o") - col("__e"))
          / col("__e")).as("__chi2"))
      .select(col("n"),
        ((col("__nr") - 1) * (col("__nc") - 1)).cast("long").as("dof"),
        round(col("__chi2"), 6).as("chi2"),
        round(sqrt(col("__chi2") / (col("n")
          * least(col("__nr") - 1, col("__nc") - 1))), 6).as("cramers_v"))
  }

  /** Per-key robust outlier profile: exact median and MAD (median of
    * absolute deviations from the median) per key, and the count of rows
    * beyond `k` MADs — the robust analogue of a z-score cut, usable on
    * data whose outliers would poison mean/stddev themselves.
    *
    * Two exact-percentile aggregations (Spark's `percentile`, matching
    * `quantile_cont(0.5)`), each keyed — partial aggregation happens
    * map-side and only per-key state crosses the exchange. The key-level
    * median/MAD tables re-join the rows by key (key-partitioned hash
    * joins, no broadcast needed for high-cardinality keys). Keys whose
    * MAD is 0 (over half the values identical) report outliers as values
    * merely UNEQUAL to the median would be absurd — rows are flagged only
    * when `|v - med| > k * mad` strictly, so mad=0 flags every value off
    * the median; callers on near-constant keys should read `mad` itself.
    */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
                  k: Double): DataFrame = {
    val v = col(valCol).cast("double")
    val rows = df.select(col(keyCol).as("__k"), v.as("__v"))
      .where(col("__v").isNotNull)
    val med = rows.groupBy("__k")
      .agg(expr("percentile(__v, 0.5)").as("__med"))
    val dev = rows.join(med, Seq("__k"))
      .withColumn("__ad", abs(col("__v") - col("__med")))
    val mad = dev.groupBy("__k")
      .agg(expr("percentile(__ad, 0.5)").as("__mad"))
    dev.join(mad, Seq("__k"))
      .groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).as("n"),
        round(max(col("__med")), 6).as("median"),
        round(max(col("__mad")), 6).as("mad"),
        sum(when(col("__ad") > lit(k) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(keyCol)
  }

  /** Welch's two-sample t-test (unequal variances): t statistic and
    * Welch–Satterthwaite degrees of freedom between the `valCol`
    * distributions of two frames — the "did the metric actually move
    * between these two snapshots" test behind every A/B read of the
    * reference dashboards. Each side collapses to one (n, mean, s²) row
    * via map-side-combined scalar aggregation; the t/df arithmetic runs
    * on the broadcast 1-row frames. Nothing corpus-sized ever crosses a
    * single partition. Sides with n < 2 yield NULL t/df (variance
    * undefined), not an exception.
    */
  def welchT(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame = {
      val v = col(valCol).cast("double")
      df.where(v.isNotNull).agg(
        count(lit(1)).as(s"n_$s"), avg(v).as(s"m_$s"),
        var_samp(v).as(s"v_$s"))
    }
    val se2a = col("v_a") / col("n_a")
    val se2b = col("v_b") / col("n_b")
    val ok = col("n_a") >= 2 && col("n_b") >= 2
    side(a, "a").crossJoin(broadcast(side(b, "b")))
      .select(col("n_a"), col("n_b"),
        round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
        round(when(ok,
          (col("m_a") - col("m_b")) / sqrt(se2a + se2b)), 6).as("t_stat"),
        round(when(ok,
          (se2a + se2b) * (se2a + se2b)
            / (se2a * se2a / (col("n_a") - 1)
              + se2b * se2b / (col("n_b") - 1))), 6).as("df"))
  }

  /** Mann–Whitney U (two-sample rank-sum) with average ranks and the
    * tie-corrected normal approximation — the nonparametric twin of
    * [[welchT]] for skewed metrics (latencies, token counts) where the
    * t-test's mean is the wrong summary. Same bounded-domain machinery as
    * [[Drift.ksDrift]]: both sides collapse to per-DISTINCT-value
    * (count_a, count_b) rows, a cumulative window over that value domain
    * assigns average ranks, and U/z come from three scalar sums. The
    * corpus never passes through a single partition; the window frame is
    * the pooled distinct-value domain (discretized measures — the KS
    * contract).
    */
  def mannWhitney(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val perValue = a.where(v.isNotNull)
      .select(v.as("v"), lit(1L).as("ca"), lit(0L).as("cb"))
      .unionAll(b.where(v.isNotNull)
        .select(v.as("v"), lit(0L).as("ca"), lit(1L).as("cb")))
      .groupBy("v").agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perValue
      .withColumn("rank", sum(col("t")).over(cum) - col("t")
        + (col("t") + lit(1)) / lit(2.0))
    ranked.agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca") * col("rank")).as("ra"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("ra") - col("na") * (col("na") + 1) / lit(2.0), 2)
          .as("u_stat"),
        round((col("ra") - col("na") * (col("na") + 1) / lit(2.0)
          - col("na") * col("nb") / lit(2.0))
          / sqrt(col("na") * col("nb") / lit(12.0)
            * ((col("na") + col("nb") + 1)
              - col("ties") / ((col("na") + col("nb"))
                * (col("na") + col("nb") - 1)))), 6).as("z"))
  }

  /** Kruskal-Wallis H — the k-group generalization of [[mannWhitney]]:
    * one rank-based test of "do any of these groups' value distributions
    * differ?" across ALL groups at once (the reference's per-segment
    * comparisons stop at two-sample tests). Same machinery: pooled
    * average ranks from a cumulative count over the DISTINCT-VALUE
    * domain (never a corpus-sized sort), per-group rank sums, then the
    * tie-corrected H = [12/(N(N+1)) · Σ R_g²/n_g − 3(N+1)] / C with
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Float discipline: ranks are half-integers and counts are integers,
    * so every rank sum is exact; R_g²/n_g is a correctly-rounded product
    * and quotient of exact values, and the Σ over groups folds in PINNED
    * group order (ROWS UNBOUNDED both ways) because those addends sit at
    * N²-scale magnitudes where free-order accumulation can drift past
    * the rounding grain. Output: one row per group (n, rank sum, mean
    * rank) carrying the shared H, tie-corrected H, degrees of freedom
    * and the ε² effect size — the report shape, ordered by group.
    *
    * Scale notes: one groupBy on (group, value) with map-side combine,
    * one cumulative window over the bounded distinct-value domain (the
    * mannWhitney allowlist shape), then group-bounded arithmetic.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val cell = df.where(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"), v.as("v"))
      .agg(count(lit(1)).as("c"))
    val perValue = cell.groupBy("v").agg(sum(col("c")).as("t"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perValue
      .withColumn("rank", sum(col("t")).over(cum) - col("t")
        + (col("t") + lit(1)) / lit(2.0))
    val groups = cell.join(ranked.select("v", "rank"), Seq("v"))
      .groupBy("grp")
      .agg(sum(col("c")).as("n_g"), sum(col("c") * col("rank")).as("r_g"))
    val tot = ranked.agg(sum(col("t")).as("n"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    // Σ R_g²/n_g folds in pinned group order: the addends are at N²
    // magnitude, so a free-order aggregate could drift past round-6
    val wPin = Window.orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    groups
      .withColumn("s_rank", sum(col("r_g") * col("r_g") / col("n_g"))
        .over(wPin))
      .withColumn("k_groups", count(lit(1)).over(wPin))
      .crossJoin(broadcast(tot))
      .withColumn("h_raw",
        lit(12.0) / (col("n") * (col("n") + 1)) * col("s_rank")
          - lit(3.0) * (col("n") + 1))
      .withColumn("tie_c",
        lit(1.0) - col("ties")
          / (col("n") * col("n") * col("n") - col("n")))
      .select(col("grp"), col("n_g"),
        round(col("r_g"), 2).as("rank_sum"),
        round(col("r_g") / col("n_g"), 6).as("mean_rank"),
        col("k_groups"), col("n"),
        round(col("h_raw"), 6).as("h"),
        round(when(col("tie_c") > 0, col("h_raw") / col("tie_c")), 6)
          .as("h_tie_corrected"),
        (col("k_groups") - 1).as("df_h"),
        // ε² = (H − k + 1)/(N − k): rank-based effect size in [0, 1]
        round(when(col("n") > col("k_groups") && col("tie_c") > 0,
          (col("h_raw") / col("tie_c") - col("k_groups") + 1)
            / (col("n") - col("k_groups"))), 6).as("epsilon_sq"))
      .orderBy("grp")
  }

  /** One-way ANOVA F over k groups — [[kruskalWallis]]'s parametric
    * sibling (the rank test answers "do distributions differ"; ANOVA
    * answers "do MEANS differ, and how much variance does the grouping
    * explain" via the η² effect size every experiment readout quotes).
    * Decomposition from exact sums only: SSB = Σ_g S_g²/n_g − S²/N,
    * SST = Σv² − S²/N, SSW = SST − SSB, F = (SSB/(k−1))/(SSW/(N−k)).
    *
    * Float discipline: values quantize to the 2^-gridBits dyadic
    * lattice so S_g, S, and Σv² are EXACT in any accumulation order
    * (the jackknifeRatio rule); each S²/n term is a correctly-rounded
    * product+quotient of exact values, and the Σ over groups folds in
    * PINNED group order (the kruskalWallis rule). SSB/SSW can land a
    * hair below zero after rounding, so the published columns carry
    * the `+ 0.0` negative-zero guard (the q_modularity lesson).
    *
    * Scale shape: ONE map-side-combined groupBy to (n_g, S_g, Q_g) per
    * group, then GROUPS-bounded window arithmetic — never a second
    * corpus pass. Exactness of Σv² needs Σ(v²·2^2gridBits) < 2^53;
    * size gridBits to the column's magnitude at the target SF.
    * Output: one row per group (n, mean) carrying the shared k, N,
    * SSB, SSW, F, df pair, and η², ordered by group.
    */
  def anovaOneWay(df: DataFrame, groupCol: String, valCol: String,
                  gridBits: Int = 6): DataFrame = {
    require(gridBits >= 0 && gridBits <= 20,
      "anovaOneWay needs 0 <= gridBits <= 20")
    val scale = math.pow(2.0, gridBits)
    val v = col(valCol).cast("double")
    val q = df.where(v.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        (floor(v * scale) / scale).as("v"))
    val g = q.groupBy("grp")
      .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s_g"),
        sum(col("v") * col("v")).as("q_g"))
    val wPin = Window.orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("n", sum(col("n_g")).over(wPin))
      .withColumn("k_groups", count(lit(1)).over(wPin))
      .withColumn("s_all", sum(col("s_g")).over(wPin))
      .withColumn("q_all", sum(col("q_g")).over(wPin))
      .withColumn("ssb_sum",
        sum(col("s_g") * col("s_g") / col("n_g")).over(wPin))
      .withColumn("__cf", col("s_all") * col("s_all") / col("n"))
      .withColumn("ssb", col("ssb_sum") - col("__cf"))
      .withColumn("sst", col("q_all") - col("__cf"))
      .withColumn("ssw", col("sst") - col("ssb"))
      .select(col("grp"), col("n_g"),
        round(col("s_g") / col("n_g"), 6).as("mean_g"),
        col("k_groups"), col("n"),
        (round(col("ssb"), 6) + lit(0.0)).as("ss_between"),
        (round(col("ssw"), 6) + lit(0.0)).as("ss_within"),
        (col("k_groups") - 1).as("df_between"),
        (col("n") - col("k_groups")).as("df_within"),
        (round(when(col("k_groups") > 1 && col("n") > col("k_groups") &&
          col("ssw") > 0.0,
          (col("ssb") / (col("k_groups") - 1)) /
            (col("ssw") / (col("n") - col("k_groups")))), 6) + lit(0.0))
          .as("f_stat"),
        (round(when(col("sst") > 0.0, col("ssb") / col("sst")), 6) +
          lit(0.0)).as("eta_sq"))
      .orderBy("grp")
  }

  /** Cochran-Armitage trend test — "does the success RATE rise with an
    * ordered exposure?" ([[anovaOneWay]] asks if group means differ at
    * all; chi-square ignores the ordering; this is the one-df test that
    * spends all its power on the monotone alternative — dose-response,
    * day-of-week effects, bucketed-tenure conversion). With integer
    * scores s_i, trials n_i, successes r_i:
    * T = Σr_i·s_i − p̄·Σn_i·s_i,  p̄ = R/N;
    * Var = p̄(1−p̄)·[Σn_i·s_i² − (Σn_i·s_i)²/N];  Z = T/√Var.
    *
    * Float discipline: every Σ is an exact integer (integer scores ×
    * integer counts, folded in pinned score order); p̄ and the variance
    * bracket are single correctly-rounded quotients of exact values;
    * published T and Z carry the `+ 0.0` negative-zero guard (a
    * perfectly flat trend rounds to ±0). Squares of Σn·s must stay
    * under 2^63 — scores-bounded, document at the call site.
    *
    * Scale shape: one map-side-combined groupBy to (n, r) per score,
    * then SCORES-bounded window arithmetic. Output: one row per score
    * level (n, successes, rate) carrying the shared N, T, Z.
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      successCol: String): DataFrame = {
    val g = df
      .where(col(scoreCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("score"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).as("successes"))
    val wPin = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("__N", sum(col("n")).over(wPin))
      .withColumn("__R", sum(col("successes")).over(wPin))
      .withColumn("__rs", sum(col("successes") * col("score")).over(wPin))
      .withColumn("__ns", sum(col("n") * col("score")).over(wPin))
      .withColumn("__ns2",
        sum(col("n") * col("score") * col("score")).over(wPin))
      .withColumn("__p",
        col("__R").cast("double") / col("__N").cast("double"))
      .withColumn("__t", col("__rs").cast("double") -
        col("__p") * col("__ns").cast("double"))
      .withColumn("__v", col("__p") * (lit(1.0) - col("__p")) *
        (col("__ns2").cast("double") -
          col("__ns").cast("double") * col("__ns").cast("double") /
            col("__N").cast("double")))
      .select(col("score"), col("n"), col("successes"),
        round(col("successes").cast("double") / col("n").cast("double"),
          6).as("rate"),
        col("__N").as("n_total"),
        (round(col("__t"), 6) + lit(0.0)).as("t_stat"),
        (round(when(col("__v") > 0.0,
          col("__t") / sqrt(col("__v"))), 6) + lit(0.0)).as("z"))
      .orderBy("score")
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * label columns (two annotators, or model-vs-truth): the labeling-
    * pipeline read accuracy alone overstates whenever the class mix is
    * skewed (two raters who both say "negative" 95% of the time agree
    * 90%+ by chance alone). κ = (p_o − p_e)/(1 − p_e) with p_o the
    * observed agreement rate and p_e = Σ_c (r_c/N)(c_c/N) the chance
    * agreement from the marginals.
    *
    * Float discipline: all counts are exact integers; p_o is one
    * correctly-rounded quotient; the marginal-product sum folds in
    * PINNED class order over exact n_a·n_b longs (Σ r_c·c_c must stay
    * under 2^63 — k·N² bounded, document at the call site); κ carries
    * the `+ 0.0` negative-zero guard (κ is negative when agreement is
    * BELOW chance, and tiny negatives round to -0.0).
    *
    * Scale shape: ONE (a, b)-keyed count (domain ≤ k² cells) then
    * class-bounded marginal re-aggregations and window folds — the
    * corpus is touched once. Output: one row per class (both marginals
    * + the diagonal) carrying the shared N, p_o, p_e, κ — the
    * per-class view shows WHICH label drives disagreement.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cnt = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ra = cnt.groupBy(col("a").as("cls")).agg(sum(col("c")).as("n_a"))
    val rb = cnt.groupBy(col("b").as("cls")).agg(sum(col("c")).as("n_b"))
    val dg = cnt.where(col("a") === col("b"))
      .groupBy(col("a").as("cls")).agg(sum(col("c")).as("n_agree"))
    val wPin = Window.orderBy("cls")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ra.join(rb, Seq("cls"), "full").join(dg, Seq("cls"), "left")
      .select(col("cls"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
      .withColumn("n", sum(col("n_a")).over(wPin))
      .withColumn("__ag", sum(col("n_agree")).over(wPin))
      .withColumn("__pe_num", sum(col("n_a") * col("n_b")).over(wPin))
      .withColumn("p_o", col("__ag").cast("double") /
        col("n").cast("double"))
      .withColumn("p_e", col("__pe_num").cast("double") /
        (col("n").cast("double") * col("n").cast("double")))
      .select(col("cls"), col("n_a"), col("n_b"), col("n_agree"),
        col("n"),
        (round(col("p_o"), 6) + lit(0.0)).as("p_o"),
        (round(col("p_e"), 6) + lit(0.0)).as("p_e"),
        (round(when(col("p_e") < 1.0,
          (col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))), 6) +
          lit(0.0)).as("kappa"))
      .orderBy("cls")
  }

  /** Benford first-digit screen: the distribution of leading significant
    * digits of a positive measure vs Benford's law p(d) = log₁₀(1 + 1/d)
    * — the classic fabricated-/synthetic-data smell test for financial
    * and count columns (organic multiplicative data follows it; uniform
    * or hand-typed data doesn't). Output: one row per digit 1–9 with
    * observed count, share, expected share, and the deviation.
    *
    * The leading digit is taken from the DECIMAL(18,2) string rendering
    * (strip non-1-9, take the first char) — digit extraction via
    * log₁₀/power arithmetic is float-fragile at exact powers of ten,
    * string extraction is engine-exact. One map-side-combined groupBy on
    * a 9-value domain; the digit frame left-joins the counts so absent
    * digits report 0 (a column where a digit NEVER leads is itself the
    * finding). Non-positive and NULL values are excluded.
    */
  def benford(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val digit = substring(regexp_replace(
      v.cast("decimal(18,2)").cast("string"), "[^1-9]", ""), 1, 1)
      .cast("int")
    val counts = df.where(v.isNotNull && v > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("__c"))
    val spark = df.sparkSession
    import spark.implicits._
    val digits = (1 to 9).toDF("digit")
    val tot = counts.agg(sum(col("__c")).as("__n"))
    broadcast(digits)
      .join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("__c"), lit(0L)).as("n"),
        round(coalesce(col("__c"), lit(0L)) / col("__n"), 6).as("share"),
        round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 6)
          .as("expected"))
      .withColumn("deviation",
        round(col("share") - col("expected"), 6))
      .orderBy("digit")
  }

  /** Per-key simple OLS (y ~ a + b·x) from five distributed moment sums —
    * the grouped form of [[Models.fitLinear3]]'s closed-form solve, one
    * map-side-combined groupBy and per-key arithmetic after it:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept from the means,
    * r² the squared correlation. Keys with a degenerate x (variance 0)
    * return NULL slope/intercept/r2 rather than ±Inf.
    */
  def groupedOls(df: DataFrame, keyCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val sums = df
      .where(x.isNotNull && y.isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * x).as("__sxx"), sum(x * y).as("__sxy"),
        sum(y * y).as("__syy"))
    val dx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val dy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val cv = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    sums.select(col(keyCol),
        col("__n").cast("long").as("n"),
        round(when(dx =!= 0.0, cv / dx), 6).as("slope"),
        round(when(dx =!= 0.0,
          (col("__sy") - (cv / dx) * col("__sx")) / col("__n")), 6)
          .as("intercept"),
        round(when(dx =!= 0.0 && dy =!= 0.0, cv * cv / (dx * dy)), 6)
          .as("r2"))
      .orderBy(keyCol)
  }

  /** A/B experiment readout: md5-hash users into arms (the
    * [[Curation.hashSample]] bucket rule, so assignment is reproducible
    * and join-free), then per-arm conversion rate and the two-proportion
    * z-score under the pooled-variance null — the "did the treatment
    * move the metric" table. One distinct-user frame, one keyed
    * conversion aggregate, two 1-row arm summaries joined by constant —
    * no corpus-sized state.
    */
  def abTestReport(events: DataFrame, userCol: String, typeCol: String,
                   valueCol: String, convType: String, minValue: Double,
                   seed: String): DataFrame = {
    val users = events.select(col(userCol).as("__u")).distinct()
      .withColumn("arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
    val converted = events.where(col(typeCol) === convType &&
        col(valueCol) >= minValue)
      .select(col(userCol).as("__u")).distinct()
      .withColumn("__conv", lit(1L))
    val arms = users.join(converted, Seq("__u"), "left")
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("__conv"), lit(0L))).as("n_converted"))
      .withColumn("rate", round(col("n_converted").cast("double") /
        col("n_users").cast("double"), 6))
    // ONE conditional aggregate over the arms frame, not a filter-per-arm
    // crossJoin: if a degenerate split leaves an arm empty, the missing
    // side's sums are NULL and z degrades to NULL — the populated arm's
    // row still reports (a filtered A×B would be EMPTY and silently drop
    // the whole readout). Always exactly one z row.
    val z = arms.agg(
        sum(when(col("arm") === "A", col("n_users"))).as("na"),
        sum(when(col("arm") === "A", col("n_converted"))).as("ca"),
        sum(when(col("arm") === "B", col("n_users"))).as("nb"),
        sum(when(col("arm") === "B", col("n_converted"))).as("cb"))
      .withColumn("__pa", col("ca").cast("double") / col("na").cast("double"))
      .withColumn("__pb", col("cb").cast("double") / col("nb").cast("double"))
      .withColumn("__pp", (col("ca") + col("cb")).cast("double") /
        (col("na") + col("nb")).cast("double"))
      // degenerate pooled rates (0%/100% conversion) have zero variance
      // under the null — z is undefined, report NULL not a crash
      .select(round(when(col("__pp") > 0.0 && col("__pp") < 1.0,
        (col("__pa") - col("__pb")) /
          sqrt(col("__pp") * (lit(1.0) - col("__pp")) *
            (lit(1.0) / col("na").cast("double") +
              lit(1.0) / col("nb").cast("double")))), 6).as("z"))
    arms.select(col("arm"), col("n_users"), col("n_converted"),
        col("rate"))
      .crossJoin(broadcast(z))
      .orderBy("arm")
  }

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13 —
    * the industry-standard "use pre-period behavior to shrink the
    * noise" adjustment): per user, X = pre-cutoff metric, Y = in-
    * experiment metric; θ = cov(X,Y)/var(X) pooled across arms; each
    * arm's adjusted mean is Ȳ_arm − θ·(X̄_arm − X̄_all). Reports per-arm
    * raw and adjusted means plus the shared θ, the variance-reduction
    * factor ρ² (the fraction of metric variance the covariate removes),
    * and the z-score of the ADJUSTED treatment effect — the whole point:
    * the same effect with var(Y)(1−ρ²) noise detects faster.
    *
    * Arms come from the [[abTestReport]] md5 rule (reproducible,
    * join-free); θ uses the pooled covariate moments, which is unbiased
    * because assignment is independent of X.
    *
    * Scale shape: one map-side-combined user rollup, one 6-sum global
    * moment scalar, one 4-sum conditional arm scalar — no corpus-sized
    * state past the first aggregate; z degrades to NULL (not a crash)
    * on an empty arm or a zero-variance covariate.
    */
  def cupedReport(events: DataFrame, userCol: String, tsCol: String,
                  valueCol: String, cutoff: String, seed: String)
      : DataFrame = {
    val per = events
      .groupBy(col(userCol).as("__u"))
      .agg(
        round(sum(when(col(tsCol) < lit(cutoff).cast("timestamp"),
          col(valueCol)).otherwise(lit(0.0))), 2).as("__x"),
        round(sum(when(col(tsCol) >= lit(cutoff).cast("timestamp"),
          col(valueCol)).otherwise(lit(0.0))), 2).as("__y"))
      .withColumn("arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
    val g = per.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__x") * col("__y")).as("sxy"),
      sum(col("__y") * col("__y")).as("syy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val cv = col("n") * col("sxy") - col("sx") * col("sy")
    val gg = broadcast(g.select(col("n"), col("sx"), col("sy"),
      when(dx =!= 0.0, cv / dx).as("theta"),
      when(dx =!= 0.0 && dy =!= 0.0, cv * cv / (dx * dy)).as("rho2"),
      when(dx =!= 0.0,
        dy / (col("n") * col("n"))
          - (cv / (col("n") * col("n"))) * (cv / (col("n") * col("n")))
            / (dx / (col("n") * col("n")))).as("s2cv")))
    val arms = per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__x")).as("__sxa"), sum(col("__y")).as("__sya"))
    // abTestReport's conditional-agg rule: an empty arm degrades the z
    // to NULL without dropping the populated arm's row
    val z = arms.agg(
        sum(when(col("arm") === "A", col("n_users").cast("double")))
          .as("na"),
        sum(when(col("arm") === "A", col("__sxa"))).as("xa"),
        sum(when(col("arm") === "A", col("__sya"))).as("ya"),
        sum(when(col("arm") === "B", col("n_users").cast("double")))
          .as("nb"),
        sum(when(col("arm") === "B", col("__sxa"))).as("xb"),
        sum(when(col("arm") === "B", col("__sya"))).as("yb"))
      .crossJoin(gg)
      .select(round(col("theta"), 6).as("theta"),
        round(col("rho2"), 6).as("var_reduction"),
        round(when(col("s2cv") > 0.0,
          ((col("ya") / col("na") - col("yb") / col("nb"))
            - col("theta") * (col("xa") / col("na")
              - col("xb") / col("nb")))
            / sqrt(col("s2cv") * (lit(1.0) / col("na")
              + lit(1.0) / col("nb")))), 6).as("z_adj"))
    arms.crossJoin(gg.select(col("theta"), col("sx"), col("n")))
      .select(col("arm"), col("n_users"),
        round(col("__sxa") / col("n_users").cast("double"), 6)
          .as("mean_pre"),
        round(col("__sya") / col("n_users").cast("double"), 6)
          .as("mean_post"),
        round(col("__sya") / col("n_users").cast("double")
          - col("theta") * (col("__sxa") / col("n_users").cast("double")
            - col("sx") / col("n")), 6).as("adj_mean_post"))
      .crossJoin(broadcast(z))
      .orderBy("arm")
  }

  /** Sample-ratio-mismatch guardrail — the FIRST check every
    * experiment readout should gate on (a skewed split means broken
    * assignment/logging, and every downstream number is garbage):
    * χ² = (n_A − E_A)²/E_A + (n_B − E_B)²/E_B against the expected
    * ratio, df=1, 5% critical 3.841459. One exact-integer distinct-user
    * scalar; everything else is 1-row arithmetic.
    */
  def srmCheck(events: DataFrame, userCol: String, seed: String,
               expectedA: Double = 0.5): DataFrame = {
    require(expectedA > 0.0 && expectedA < 1.0,
      "srmCheck needs expectedA in (0, 1)")
    val users = events.select(col(userCol).as("__u")).distinct()
      .withColumn("__arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
    val s = users.agg(
      sum(when(col("__arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === "B", 1L).otherwise(0L)).as("n_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val ea = n * lit(expectedA)
    val eb = n * (lit(1.0) - lit(expectedA))
    val chi2 = when(ea > 0.0 && eb > 0.0,
      (col("n_a").cast("double") - ea) * (col("n_a").cast("double") - ea)
        / ea +
      (col("n_b").cast("double") - eb) * (col("n_b").cast("double") - eb)
        / eb)
    s.select(col("n_a"), col("n_b"),
      round(ea, 6).as("expected_a"),
      round(chi2, 6).as("chi2"),
      (chi2 > lit(3.841459)).as("srm_detected"))
  }

  /** Quantile treatment effects — the DISTRIBUTIONAL experiment
    * readout ([[abTestReport]] compares means; QTE compares the whole
    * outcome distribution, catching effects that concentrate in the
    * tails): per-arm deciles of the per-user metric on the dyadic
    * 2^-gridBits value lattice (the [[Commerce.rfmSegments]] weighted-
    * percentile discipline), and the per-decile treated−control gap.
    *
    * Scale shape: one user rollup, two GRID-bounded weighted
    * percentiles, a 9-row output.
    */
  def quantileTreatmentEffects(events: DataFrame, userCol: String,
                               valueCol: String, seed: String,
                               gridBits: Int = 4): DataFrame = {
    val scale = math.pow(2.0, gridBits)
    val per = events.groupBy(col(userCol).as("__u"))
      .agg(round(sum(col(valueCol)), 2).cast("double").as("__m"))
      .withColumn("arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
      .withColumn("__vq", floor(col("__m") * lit(scale)) / lit(scale))
      .localCheckpoint()
    val probs = (1 to 9).map(_.toDouble / 10)
    def edges(a: String) = broadcast(per.where(col("arm") === a)
      .groupBy(col("__vq")).agg(count(lit(1)).as("__w"))
      .agg(expr(s"percentile(__vq, array(${probs.mkString(",")}), __w)")
        .as(s"__e_$a")))
    edges("A").crossJoin(edges("B"))
      .select(posexplode(array(probs.map(lit): _*))
        .as(Seq("__i", "quantile")), col("__e_A"), col("__e_B"))
      .select(col("quantile"),
        round(element_at(col("__e_A"), col("__i") + 1), 6)
          .as("q_control"),
        round(element_at(col("__e_B"), col("__i") + 1), 6)
          .as("q_treated"),
        round(element_at(col("__e_B"), col("__i") + 1)
          - element_at(col("__e_A"), col("__i") + 1), 6).as("qte"))
      .orderBy("quantile")
  }

  /** Two-model uplift report (Radcliffe's decile table — "WHO does the
    * treatment work on?", where [[abTestReport]] only answers whether
    * it works on average): fit P(convert | engagement) separately on
    * each md5 arm with the [[Models.fitLogistic1]] fixed-round chain,
    * score every user's predicted uplift p_B(x) − p_A(x), decile by
    * score, and report OBSERVED per-decile uplift (treated minus
    * control conversion) next to the model's predicted mean — a
    * monotone observed column is the receipt that targeting by the
    * model would concentrate the effect.
    *
    * Determinism: the [[psmStratified]] discipline — rounded betas,
    * dyadic 2^-8 score grid before the weighted-percentile decile
    * edges, exact-count rate quotients.
    *
    * Scale shape: one user rollup; two `rounds`-pass 6-sum fits; one
    * histogram-weighted percentile over the GRID-bounded score frame;
    * the output is buckets-bounded.
    */
  def upliftReport(events: DataFrame, userCol: String, typeCol: String,
                   valueCol: String, convType: String, minValue: Double,
                   engageType: String, seed: String, buckets: Int = 10,
                   rounds: Int = 4): DataFrame = {
    require(buckets >= 2 && buckets <= 10,
      "upliftReport needs 2 <= buckets <= 10")
    val per = events.groupBy(col(userCol).as("__u"))
      .agg(sum(when(col(typeCol) === engageType, 1).otherwise(0))
        .cast("double").as("__x"),
        max(when(col(typeCol) === convType &&
          col(valueCol) >= minValue, 1).otherwise(0))
          .cast("double").as("__y"))
      .withColumn("arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
    val stats = per.agg(avg(col("__x")).as("m"),
      stddev_samp(col("__x")).as("sd"))
    val std = per.crossJoin(broadcast(stats))
      .select(((col("__x") - col("m")) / col("sd")).as("__z"),
        col("__y"), col("arm"))
      .localCheckpoint()
    val bA = broadcast(Models.fitLogistic1(
      std.where(col("arm") === "A"), "__z", "__y", rounds)
      .select(col("b0").as("a0"), col("b1").as("a1")))
    val bB = broadcast(Models.fitLogistic1(
      std.where(col("arm") === "B"), "__z", "__y", rounds)
      .select(col("b0").as("c0"), col("b1").as("c1")))
    val scored = std.crossJoin(bA).crossJoin(bB)
      .withColumn("__pa", lit(1.0) / (lit(1.0) +
        exp(lit(0.0) - (col("a0") + col("a1") * col("__z")))))
      .withColumn("__pb", lit(1.0) / (lit(1.0) +
        exp(lit(0.0) - (col("c0") + col("c1") * col("__z")))))
      .withColumn("__su",
        floor((col("__pb") - col("__pa")) * lit(256.0)) / lit(256.0))
      .localCheckpoint()
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val edges = broadcast(scored
      .groupBy(col("__su").as("__vq")).agg(count(lit(1)).as("__w"))
      .agg(expr(s"percentile(__vq, array(${probs.mkString(",")}), __w)")
        .as("__e")))
    scored.crossJoin(edges)
      .withColumn("bucket", (1 until buckets).foldLeft(lit(1)) {
        (acc, i) =>
          acc + when(col("__su") >= element_at(col("__e"), i), 1)
            .otherwise(0)
      })
      .groupBy("bucket")
      .agg(
        coalesce(sum(when(col("arm") === "B", 1L)), lit(0L))
          .as("n_treated"),
        coalesce(sum(when(col("arm") === "B", col("__y"))), lit(0.0))
          .cast("long").as("conv_treated"),
        coalesce(sum(when(col("arm") === "A", 1L)), lit(0L))
          .as("n_control"),
        coalesce(sum(when(col("arm") === "A", col("__y"))), lit(0.0))
          .cast("long").as("conv_control"),
        avg(col("__su")).as("__pu"))
      .select(col("bucket"), col("n_treated"), col("conv_treated"),
        col("n_control"), col("conv_control"),
        round(when(col("n_treated") > 0L,
          col("conv_treated").cast("double")
            / col("n_treated").cast("double")), 6).as("rate_treated"),
        round(when(col("n_control") > 0L,
          col("conv_control").cast("double")
            / col("n_control").cast("double")), 6).as("rate_control"),
        round(when(col("n_treated") > 0L && col("n_control") > 0L,
          col("conv_treated").cast("double")
            / col("n_treated").cast("double")
            - col("conv_control").cast("double")
              / col("n_control").cast("double")), 6)
          .as("observed_uplift"),
        round(col("__pu"), 6).as("predicted_uplift"))
      .orderBy("bucket")
  }

  /** Always-valid sequential test (mixture SPRT, Johari et al. KDD'17
    * — the "peek whenever you want" experiment monitor): per calendar
    * day, cumulative arm sizes and converters, the pooled-variance
    * normal approximation V = p̄(1−p̄)(1/n_A + 1/n_B), and the normal-
    * mixture likelihood ratio Λ = √(V/(V+τ²))·exp(θ̂²τ²/(2V(V+τ²)));
    * the always-valid p is the RUNNING MIN of 1/Λ capped at 1, so the
    * day a decision fires is readable directly off the curve — unlike
    * [[abTestReport]]'s fixed-horizon z, this p-value survives daily
    * peeking. τ² defaults to the dyadic 1/16.
    *
    * Determinism: cumulative counts are exact integers on the
    * days×arms zero-filled grid (the [[logRank]] grid rule); Λ is
    * single-expression arithmetic (exp per the logistic precedent) and
    * the running min folds in PINNED day order.
    *
    * Scale shape: two first-touch user rollups, then everything is
    * DAYS×ARMS-bounded.
    */
  def msprtCurve(events: DataFrame, userCol: String, timeCol: String,
                 typeCol: String, valueCol: String, convType: String,
                 minValue: Double, seed: String,
                 tau2: Double = 0.0625): DataFrame = {
    require(tau2 > 0.0, "msprtCurve needs tau2 > 0")
    val seen = events
      .groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(timeCol))).as("__d0"))
      .withColumn("arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
    val conv = events.where(col(typeCol) === convType &&
        col(valueCol) >= minValue)
      .groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(timeCol))).as("__dc"))
    val perUser = seen.join(conv, Seq("__u"), "left")
      .localCheckpoint()
    val days = events.select(to_date(col(timeCol)).as("day")).distinct()
    val grid = days.crossJoin(broadcast(
      perUser.select(col("arm")).distinct()))
    val joins = grid
      .join(perUser.groupBy(col("arm"), col("__d0").as("day"))
        .agg(count(lit(1)).as("__nu")), Seq("arm", "day"), "left")
      .join(perUser.where(col("__dc").isNotNull)
        .groupBy(col("arm"), col("__dc").as("day"))
        .agg(count(lit(1)).as("__nc")), Seq("arm", "day"), "left")
      .select(col("arm"), col("day"),
        coalesce(col("__nu"), lit(0L)).as("__nu"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
    val wCum = Window.partitionBy("arm").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = joins
      .withColumn("__n", sum(col("__nu")).over(wCum))
      .withColumn("__c", sum(col("__nc")).over(wCum))
    val perDay = cum.groupBy(col("day"))
      .agg(
        coalesce(sum(when(col("arm") === "A", col("__n"))), lit(0L))
          .as("n_a"),
        coalesce(sum(when(col("arm") === "A", col("__c"))), lit(0L))
          .as("conv_a"),
        coalesce(sum(when(col("arm") === "B", col("__n"))), lit(0L))
          .as("n_b"),
        coalesce(sum(when(col("arm") === "B", col("__c"))), lit(0L))
          .as("conv_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pbar = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val theta = col("conv_b").cast("double") / nb -
      col("conv_a").cast("double") / na
    val vv = pbar * (lit(1.0) - pbar) * (lit(1.0) / na + lit(1.0) / nb)
    val lam = sqrt(col("__v") / (col("__v") + lit(tau2))) *
      exp(col("__th") * col("__th") * lit(tau2) /
        (lit(2.0) * col("__v") * (col("__v") + lit(tau2))))
    val pin = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = perDay
      .withColumn("__th", when(na > 0.0 && nb > 0.0, theta))
      .withColumn("__v", when(na > 0.0 && nb > 0.0 &&
        pbar > 0.0 && pbar < 1.0, vv))
      .withColumn("__lam", lam)
      .withColumn("__mn", min(lit(1.0) / col("__lam")).over(pin))
      .withColumn("__p", when(col("__mn").isNotNull,
        least(lit(1.0), col("__mn"))))
    curve.select(col("day"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"),
        round(col("__th"), 6).as("theta"),
        round(col("__lam"), 6).as("lambda"),
        round(col("__p"), 6).as("p_always_valid"),
        (col("__p") < lit(0.05)).as("significant"))
      .orderBy("day")
  }

  /** Difference-in-differences on a user panel — the parallel-trends
    * causal readout ([[cupedReport]] shrinks variance; THIS one
    * estimates an effect when assignment wasn't random): per user,
    * pre- and post-cutoff metric; per arm, the mean change; the DiD
    * estimate is the treated arm's change minus the control arm's
    * change, and because the panel is paired the standard error is the
    * two-sample SE of the per-user diffs, se = √(s²_A/n_A + s²_B/n_B)
    * (sample variances), z = DiD/se.
    *
    * Scale shape: one map-side-combined user rollup; a 6-sum
    * conditional arm scalar; arm rows cross the broadcast 1-row
    * estimate — the [[abTestReport]] plan shape throughout. An empty
    * arm or zero-variance diffs degrade z to NULL.
    */
  def didReport(events: DataFrame, userCol: String, tsCol: String,
                valueCol: String, cutoff: String, seed: String)
      : DataFrame = {
    val per = events
      .groupBy(col(userCol).as("__u"))
      .agg(
        round(sum(when(col(tsCol) < lit(cutoff).cast("timestamp"),
          col(valueCol)).otherwise(lit(0.0))), 2).as("__pre"),
        round(sum(when(col(tsCol) >= lit(cutoff).cast("timestamp"),
          col(valueCol)).otherwise(lit(0.0))), 2).as("__post"))
      .withColumn("arm",
        when(Dedup.h60(concat(lit(seed), lit("_"),
          col("__u").cast("string"))) % 2 === 0, "A").otherwise("B"))
      .withColumn("__d", col("__post") - col("__pre"))
    val arms = per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__pre")).as("__sp"), sum(col("__post")).as("__so"),
        sum(col("__d")).as("__sd"),
        sum(col("__d") * col("__d")).as("__sdd"))
    val est = broadcast(arms.agg(
        sum(when(col("arm") === "A", col("n_users").cast("double")))
          .as("na"),
        sum(when(col("arm") === "A", col("__sd"))).as("sda"),
        sum(when(col("arm") === "A", col("__sdd"))).as("sdda"),
        sum(when(col("arm") === "B", col("n_users").cast("double")))
          .as("nb"),
        sum(when(col("arm") === "B", col("__sd"))).as("sdb"),
        sum(when(col("arm") === "B", col("__sdd"))).as("sddb"))
      .withColumn("__did",
        col("sdb") / col("nb") - col("sda") / col("na"))
      .withColumn("__va", when(col("na") > 1.0,
        (col("sdda") - col("sda") * col("sda") / col("na"))
          / (col("na") - lit(1.0))))
      .withColumn("__vb", when(col("nb") > 1.0,
        (col("sddb") - col("sdb") * col("sdb") / col("nb"))
          / (col("nb") - lit(1.0))))
      .withColumn("__se", sqrt(col("__va") / col("na")
        + col("__vb") / col("nb")))
      .select(round(col("__did"), 6).as("did"),
        round(col("__se"), 6).as("se"),
        round(when(col("__se") > 0.0, col("__did") / col("__se")), 6)
          .as("z")))
    arms.select(col("arm"), col("n_users"),
        round(col("__sp") / col("n_users").cast("double"), 6)
          .as("mean_pre"),
        round(col("__so") / col("n_users").cast("double"), 6)
          .as("mean_post"),
        round(col("__sd") / col("n_users").cast("double"), 6)
          .as("mean_change"))
      .crossJoin(est)
      .orderBy("arm")
  }

  /** Experiment power analysis from the observed baseline — "how many
    * users per arm (and how many days of traffic) does each candidate
    * effect size need?": for relative lifts δ over the measured
    * conversion rate p₁, the classic two-proportion sample size
    * n = (z_{α/2} + z_β)²·(p₁q₁ + p₂q₂)/(p₂−p₁)² at α=5%, power=80%
    * (z constants are published values 1.959964 / 0.841621 — no
    * inverse-normal evaluation). Days-to-run divides the required
    * total by the measured average distinct users per active day.
    * The natural companion to [[abTestReport]]/[[cupedReport]]: run
    * THIS before the experiment, those after.
    *
    * Determinism: one exact-integer baseline scalar (conversions,
    * users, user-days, days), lift rows are literal constants, and
    * every derived value is single-expression arithmetic both engines
    * round identically; ceil() lands on exact integer boundaries only
    * when the quotient is exact, so both engines agree.
    *
    * Scale shape: two distinct aggregates (map-side combined) and a
    * LIFTS-bounded projection — nothing else.
    */
  def powerAnalysis(events: DataFrame, userCol: String, timeCol: String,
                    typeCol: String, valueCol: String, convType: String,
                    minValue: Double,
                    lifts: Seq[Double] = Seq(0.02, 0.05, 0.1, 0.2))
      : DataFrame = {
    require(lifts.nonEmpty && lifts.forall(l => l > 0.0 && l < 1.0),
      "powerAnalysis needs relative lifts in (0, 1)")
    val zA = 1.959964
    val zB = 0.841621
    val users = events.select(col(userCol).as("__u")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val conv = events.where(col(typeCol) === convType &&
        col(valueCol) >= minValue)
      .select(col(userCol).as("__u")).distinct()
      .agg(count(lit(1)).as("n_conv"))
    val traffic = events
      .select(col(userCol).as("__u"), to_date(col(timeCol)).as("__d"))
      .distinct()
      .agg(count(lit(1)).as("n_user_days"),
        countDistinct(col("__d")).as("n_days"))
    val base = broadcast(users.crossJoin(conv).crossJoin(traffic)
      .select(col("n_users"), col("n_conv"),
        (col("n_conv").cast("double") / col("n_users").cast("double"))
          .as("p1"),
        (col("n_user_days").cast("double")
          / col("n_days").cast("double")).as("daily_users")))
    base
      .select(col("n_users"), col("n_conv"), col("p1"),
        col("daily_users"),
        explode(array(lifts.map(lit): _*)).as("rel_lift"))
      .withColumn("__p2", col("p1") * (lit(1.0) + col("rel_lift")))
      .withColumn("__n", when(col("__p2") < 1.0 && col("p1") > 0.0,
        ceil((lit(zA) + lit(zB)) * (lit(zA) + lit(zB))
          * (col("p1") * (lit(1.0) - col("p1"))
            + col("__p2") * (lit(1.0) - col("__p2")))
          / ((col("__p2") - col("p1")) * (col("__p2") - col("p1"))))))
      .select(col("rel_lift"), col("n_users"), col("n_conv"),
        round(col("p1"), 6).as("baseline_rate"),
        round(col("__p2"), 6).as("target_rate"),
        col("__n").cast("long").as("n_per_arm"),
        when(col("__n").isNotNull,
          ceil(lit(2.0) * col("__n").cast("double")
            / col("daily_users")).cast("long")).as("days_to_run"))
      .orderBy("rel_lift")
  }

  /** Propensity-score stratification (Rosenbaum–Rubin subclassification
    * — the query-engine causal workhorse): fit P(treated | covariate)
    * with the [[Models.fitLogistic1]] fixed-round Newton chain, bucket
    * units by propensity quintile, and estimate the treatment effect as
    * the treated-count-weighted within-bucket outcome difference (ATT).
    * The naive treated-vs-control difference rides along so the readout
    * SHOWS how much confounding the stratification removed.
    *
    * Determinism: the fitted β come back ROUNDED to 6 decimals (cross-
    * engine exact), the scored propensity quantizes to the dyadic
    * 2^-gridBits lattice before the [[Commerce.rfmSegments]]-style
    * weighted-percentile edges, and the ATT/naive folds run in PINNED
    * bucket order. Buckets lacking either arm are excluded from the ATT
    * (standard non-overlap handling), reported with NULL diff.
    *
    * Scale shape: fit = `rounds` 6-sum scalar passes; edges = one
    * histogram-weighted percentile over the GRID-bounded quantized
    * frame; the final frame is buckets-bounded. Covariate/treatment/
    * outcome rows with NULLs are dropped up front.
    */
  def psmStratified(df: DataFrame, covCol: String, treatCol: String,
                    outcomeCol: String, buckets: Int = 5,
                    rounds: Int = 4, gridBits: Int = 8): DataFrame = {
    require(buckets >= 2 && buckets <= 10,
      "psmStratified needs 2 <= buckets <= 10")
    val base = df.select(col(covCol).cast("double").as("__x"),
        col(treatCol).cast("double").as("__t"),
        col(outcomeCol).cast("double").as("__y"))
      .where(col("__x").isNotNull && col("__t").isNotNull &&
        col("__y").isNotNull)
      .localCheckpoint()
    val stats = base.agg(avg(col("__x")).as("m"),
      stddev_samp(col("__x")).as("sd"))
    val std = base.crossJoin(broadcast(stats))
      .select(((col("__x") - col("m")) / col("sd")).as("__z"),
        col("__t"), col("__y"))
      .localCheckpoint()
    val beta = broadcast(
      Models.fitLogistic1(std, "__z", "__t", rounds)
        .select(col("b0"), col("b1")))
    val scale = math.pow(2.0, gridBits)
    val scored = std.crossJoin(beta)
      .withColumn("__p", lit(1.0) / (lit(1.0) +
        exp(lit(0.0) - (col("b0") + col("b1") * col("__z")))))
      .withColumn("__pq", floor(col("__p") * lit(scale)) / lit(scale))
      .localCheckpoint()
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val edges = broadcast(scored
      .groupBy(col("__pq").as("__vq")).agg(count(lit(1)).as("__w"))
      .agg(expr(s"percentile(__vq, array(${probs.mkString(",")}), __w)")
        .as("__e")))
    val bucketed = scored.crossJoin(edges)
      .withColumn("bucket", (1 until buckets).foldLeft(lit(1)) {
        (acc, i) =>
          acc + when(col("__pq") >= element_at(col("__e"), i), 1)
            .otherwise(0)
      })
    val per = bucketed.groupBy("bucket").agg(
      sum(col("__t")).cast("long").as("n_treated"),
      sum(lit(1.0) - col("__t")).cast("long").as("n_control"),
      sum(col("__t") * col("__y")).as("__syt"),
      sum((lit(1.0) - col("__t")) * col("__y")).as("__syc"))
    val mt = when(col("n_treated") > 0L,
      col("__syt") / col("n_treated").cast("double"))
    val mc = when(col("n_control") > 0L,
      col("__syc") / col("n_control").cast("double"))
    val both = col("n_treated") > 0L && col("n_control") > 0L
    val pin = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("__d", when(both, mt - mc))
      .withColumn("__attN", sum(when(both,
        col("__d") * col("n_treated").cast("double"))).over(pin))
      .withColumn("__attD", sum(when(both,
        col("n_treated").cast("double"))).over(pin))
      .withColumn("__nt", sum(col("n_treated")).over(pin))
      .withColumn("__nc", sum(col("n_control")).over(pin))
      .withColumn("__st", sum(col("__syt")).over(pin))
      .withColumn("__sc", sum(col("__syc")).over(pin))
      .select(col("bucket"), col("n_treated"), col("n_control"),
        round(mt, 6).as("mean_treated"),
        round(mc, 6).as("mean_control"),
        round(col("__d"), 6).as("diff"),
        round(when(col("__attD") > 0.0,
          col("__attN") / col("__attD")), 6).as("att"),
        round(when(col("__nt") > 0L && col("__nc") > 0L,
          col("__st") / col("__nt").cast("double")
            - col("__sc") / col("__nc").cast("double")), 6)
          .as("naive_diff"))
      .orderBy("bucket")
  }

  /** Poisson-bootstrap confidence interval for a mean — the bootstrap
    * that actually runs at fleet scale (one streaming pass, no
    * resampling shuffle; the Poisson(1) approximation to multinomial
    * resampling is the standard large-n form): every row enters
    * replicate b with weight w ~ Poisson(1), drawn by inverse-CDF from
    * a SEEDED md5-uniform on the dyadic 2^20 grid (the [[dpNoisyCounts]]
    * noise-source discipline — reproducible and oracle-replayable; the
    * CDF thresholds are fixed published constants). Reports the point
    * mean, the replicate mean/se, and the rank-based percentile CI
    * (k = ⌈B·0.025⌉-th and (B+1−k)-th order statistics — EXACT order
    * stats, no interpolation, so both engines agree bit-for-bit).
    *
    * Float discipline: replicate sums are guarded quotients; the
    * cross-replicate mean/se fold in PINNED b order; order statistics
    * tie-break on b for a total order.
    *
    * Scale shape: the explode is a map-side ×B projection whose
    * aggregate partial-combines to B rows per partition before the
    * shuffle; everything after is a B-bounded frame. B·n md5 draws are
    * the dominant cost and are embarrassingly parallel.
    */
  def bootstrapCi(df: DataFrame, idCol: String, valCol: String,
                  reps: Int = 64, seed: String): DataFrame = {
    require(reps >= 8 && reps <= 256,
      "bootstrapCi needs 8 <= reps <= 256")
    val kLo = math.ceil(reps * 0.025).toInt
    val kHi = reps + 1 - kLo
    // cumulative Poisson(1) CDF, fixed 10-decimal published constants
    val cdf = Seq(0.3678794412, 0.7357588823, 0.9196986029,
      0.9810118431, 0.9963401532, 0.9994058151, 0.9999167589,
      0.9999897509)
    val base = df.select(col(idCol).as("__id"),
        col(valCol).cast("double").as("__x"))
      .where(col("__x").isNotNull)
    val g = broadcast(base.agg(count(lit(1)).as("n"),
      (sum(col("__x")) / count(lit(1)).cast("double")).as("__pm")))
    val rep = base
      .select(col("__id"), col("__x"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .withColumn("__u",
        ((Dedup.h60(concat(lit(seed), lit("_"), col("b").cast("string"),
          lit("_"), col("__id").cast("string"))) % 1048576L)
          .cast("double") + lit(0.5)) / lit(1048576.0))
      .withColumn("__w", cdf.map(t =>
        when(col("__u") > lit(t), 1).otherwise(0)).reduce(_ + _))
    val ests = rep.groupBy("b")
      .agg(when(sum(col("__w")) > 0,
        sum(col("__w") * col("__x")) / sum(col("__w")).cast("double"))
        .as("est"))
    val pin = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rk = ests
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("est"), col("b"))))
      .withColumn("__s1", sum(col("est")).over(pin))
      .withColumn("__s2", sum(col("est") * col("est")).over(pin))
    val summary = rk.agg(
      max(col("__s1")).as("s1"), max(col("__s2")).as("s2"),
      sum(when(col("__rk") === kLo, col("est"))).as("lo"),
      sum(when(col("__rk") === kHi, col("est"))).as("hi"))
    summary.crossJoin(g).select(
      col("n"), lit(reps).as("reps"),
      round(col("__pm"), 6).as("point_mean"),
      round(col("s1") / lit(reps.toDouble), 6).as("boot_mean"),
      round(sqrt(greatest(
        (col("s2") - col("s1") * col("s1") / lit(reps.toDouble))
          / lit((reps - 1).toDouble), lit(0.0))), 6).as("boot_se"),
      round(col("lo"), 6).as("ci_lo"),
      round(col("hi"), 6).as("ci_hi"))
  }

  /** Differential-privacy-SHAPED noisy count release: per-key counts plus
    * Laplace(1/ε) noise drawn by INVERSE-CDF from a SEEDED md5-uniform —
    * X = −(1/ε)·sign(u)·ln(1−2|u|), u ∈ (−½, ½) on the dyadic 2^20 grid
    * (offset by half a cell so the ln argument never reaches 0).
    *
    * Honesty note: a seeded hash is reproducibility, NOT secrecy — this
    * is the privacy-budget ACCOUNTING and release shape (per-key ε,
    * noise magnitude calibrated to the count sensitivity of 1), with the
    * noise source deliberately deterministic so the release is testable
    * and the DuckDB oracle replays it exactly; swap the seed for a real
    * CSPRNG draw per release to get the real guarantee. Pure per-group
    * projection after one count aggregate — no extra shuffle.
    */
  def dpNoisyCounts(df: DataFrame, keyCol: String, epsilon: Double,
                    seed: String): DataFrame = {
    require(epsilon > 0.0, "dpNoisyCounts needs epsilon > 0")
    val h = Dedup.h60(concat(lit(seed), lit("_"), col(keyCol))) % 1048576L
    val u = (h.cast("double") + lit(0.5)) / lit(1048576.0) - lit(0.5)
    val noise = -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) *
      lit(1.0 / epsilon)
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("noisy_n", round(col("n") + noise, 6))
      .orderBy(keyCol)
  }

  /** Per-group exact percentiles (the p50/p95/p99 SLA table every
    * latency/value dashboard pins) with the scale-safe buffer: values
    * quantize to a 2^-gridBits dyadic lattice and the exact percentile
    * aggregates WEIGHTED over each group's value histogram — the
    * [[Curation.winsorize]] discipline, per group — so the aggregation
    * buffer is bounded by distinct quantized values per group, never row
    * count. An oracle replays the grid unweighted over the rows
    * (identical multiset ⇒ identical interpolated edges). Output: one
    * row per group with one column per requested percentile.
    */
  /** Full-decimal percentile column names (p25, p99_5) — not
    * round(p*100), which would collide nearby probs (0.5 and 0.504
    * both "p50") into an ambiguous frame.
    */
  private def pctNames(probs: Seq[Double]): Seq[String] =
    probs.map { p =>
      "p" + java.math.BigDecimal.valueOf(p).movePointRight(2)
        .stripTrailingZeros.toPlainString.replace(".", "_")
    }

  def groupedPercentiles(df: DataFrame, keyCol: String, valCol: String,
                         probs: Seq[Double],
                         gridBits: Int = 4): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "groupedPercentiles needs probs in (0, 1)")
    require(gridBits >= 0 && gridBits <= 20,
      "groupedPercentiles needs 0 <= gridBits <= 20")
    val pnames = pctNames(probs)
    require(pnames.distinct.size == pnames.size,
      s"groupedPercentiles probs map to duplicate column names: $pnames")
    val scale = math.pow(2.0, gridBits)
    val q = df
      .select(col(keyCol).as("grp"),
        (floor(col(valCol).cast("double") * scale) / scale).as("__vq"))
      .where(col("grp").isNotNull && col("__vq").isNotNull)
      .groupBy(col("grp"), col("__vq"))
      .agg(count(lit(1)).as("__w"))
    val pcols = pnames.zipWithIndex.map { case (nm, i) =>
      round(element_at(col("__e"), i + 1), 6).as(nm)
    }
    q.groupBy(col("grp"))
      .agg(sum(col("__w")).as("n_rows"),
        expr(s"percentile(__vq, array(${probs.mkString(",")}), __w)")
          .as("__e"))
      .select(col("grp") +: col("n_rows") +: pcols: _*)
      .orderBy("grp")
  }

  /** Per-group quantile drift between two snapshots — the tail-aware
    * drift report PSI's fixed bins blur ("p50 held but p99 doubled" is
    * exactly the SLA regression a mean- or bin-based monitor misses):
    * [[groupedPercentiles]] on each snapshot (same dyadic grid, same
    * exact weighted percentile), inner-joined per group, with the
    * per-quantile shift and the worst absolute shift published. Groups
    * present in only one snapshot drop (a born/dead group is a
    * different report — count them upstream).
    *
    * Scale shape: two histogram-bounded percentile passes + a
    * groups-bounded join; deltas are subtractions of the already-
    * rounded published quantiles, re-rounded — deterministic.
    */
  def quantileDrift(a: DataFrame, b: DataFrame, keyCol: String,
                    valCol: String, probs: Seq[Double],
                    gridBits: Int = 4): DataFrame = {
    val pnames = pctNames(probs)
    def side(df: DataFrame, tag: String): DataFrame =
      groupedPercentiles(df, keyCol, valCol, probs, gridBits)
        .select(col("grp") +: col("n_rows").as(s"n_$tag") +:
          pnames.map(n => col(n).as(s"${n}_$tag")): _*)
    val deltas = pnames.map(n =>
      round(col(s"${n}_b") - col(s"${n}_a"), 6).as(s"d_$n"))
    val maxShift = greatest(pnames.map(n =>
      abs(round(col(s"${n}_b") - col(s"${n}_a"), 6))): _*)
    val cols = Seq(col("grp"), col("n_a"), col("n_b")) ++
      pnames.flatMap(n => Seq(col(s"${n}_a"), col(s"${n}_b"))) ++
      deltas ++ Seq(maxShift.as("max_abs_shift"))
    side(a, "a").join(side(b, "b"), Seq("grp"))
      .select(cols: _*)
      .orderBy("grp")
  }

  /** The risk-set frame of [[kaplanMeier]] and [[nelsonAalen]]: one row
    * per (grp, t) with n_at subjects ending at duration t, d_events
    * uncensored among them, and n_risk(t) = Σ_{t' >= t} n_at(t') — a
    * reverse cumulative over the per-group distinct-duration frame
    * (bounded by the time grid). NULL groups and durations drop out.
    */
  private def riskSets(subjects: DataFrame, groupCol: String,
                       durationCol: String, eventCol: String): DataFrame = {
    val counts = subjects
      .select(col(groupCol).as("grp"),
        col(durationCol).cast("long").as("t"),
        col(eventCol).cast("int").as("ev"))
      .where(col("grp").isNotNull && col("t").isNotNull)
      .groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("n_at"),
        sum(col("ev")).cast("long").as("d_events"))
    val wRisk = Window.partitionBy("grp").orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.withColumn("n_risk", sum(col("n_at")).over(wRisk))
  }

  /** Kaplan-Meier product-limit survival curve per group over
    * right-censored durations — the time-to-event estimator behind every
    * churn/retention/time-to-second-purchase analysis (lifelines
    * `KaplanMeierFitter`). Input: one row per subject with an integer
    * `durationCol` and 0/1 `eventCol` (0 = censored at that duration).
    *
    * Estimator (standard conventions): at each distinct UNCENSORED time
    * t, d_t = events at t, n_t = subjects still at risk (duration ≥ t —
    * subjects censored exactly at t count as at-risk at t);
    * S(t) = Π_{t_i ≤ t} (1 − d_i / n_i).
    *
    * Scale shape: subjects collapse to (group, duration) count rows with
    * map-side combine BEFORE any window; the two windows (reverse
    * cumulative risk count, cumulative log-survival) are partitioned by
    * group and run over the distinct-duration frame — bounded by the
    * time-grid cardinality, never subject count. The product is computed
    * as exp(Σ ln(1−d/n)) in BOTH engines over the same unique-key order,
    * rounded to 6 — deterministic cross-engine.
    */
  def kaplanMeier(subjects: DataFrame, groupCol: String,
                  durationCol: String, eventCol: String): DataFrame = {
    val wSurv = Window.partitionBy("grp").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskSets(subjects, groupCol, durationCol, eventCol)
      // d == n collapses the factor to 0 (ln undefined): absorb it via
      // an explicit flag — survival is exactly 0 from that time on
      .withColumn("__ln",
        when(col("d_events") > 0 && col("d_events") < col("n_risk"),
          log(lit(1.0) - col("d_events").cast("double") /
            col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("__zero", max(
        when(col("d_events") === col("n_risk"), 1).otherwise(0))
        .over(wSurv))
      .withColumn("survival", when(col("__zero") === 1, lit(0.0))
        .otherwise(round(exp(sum(col("__ln")).over(wSurv)), 6)))
      .where(col("d_events") > 0)
      .select(col("grp"), col("t"), col("n_risk"), col("d_events"),
        col("survival"))
      .orderBy(col("grp"), col("t"))
  }

  /** Two-group log-rank test — the hypothesis test [[kaplanMeier]]'s
    * curves beg for ("do these two groups really churn at different
    * rates, or is the gap noise?"): at each event time, the observed
    * group-A events vs the expectation under the pooled hazard,
    * U = Σ(d_A − d·n_A/n), Var = Σ d·(n_A/n)·(n_B/n)·(n−d)/(n−1),
    * χ² = U²/Var against χ²(1) (asymptotic 5% critical 3.841459 —
    * published constant, no CDF evaluation). Requires EXACTLY two
    * groups; side A is the lexicographically smaller label.
    *
    * Determinism: at-risk and event counts are exact integers (the
    * missing-time rows are zero-filled via a times×groups grid so both
    * groups' at-risk functions are defined at EVERY event time); each
    * per-time term is exact-quotient arithmetic and the U/Var folds
    * run in PINNED time order.
    *
    * Scale shape: one (grp, t) rollup, a TIME-GRID-bounded cross with
    * the 2-row group frame, partitioned reverse-cumulative windows —
    * the [[kaplanMeier]] bounded-time-grid contract throughout.
    */
  def logRank(subjects: DataFrame, groupCol: String,
              durationCol: String, eventCol: String): DataFrame = {
    val base = subjects
      .select(col(groupCol).cast("string").as("grp"),
        col(durationCol).cast("long").as("t"),
        col(eventCol).cast("int").as("ev"))
      .where(col("grp").isNotNull && col("t").isNotNull)
    val gmin = broadcast(base.agg(min(col("grp")).as("ga"),
      countDistinct(col("grp")).as("n_groups")))
    val tagged = base.crossJoin(gmin)
      .select(when(col("grp") === col("ga"), lit("A"))
        .otherwise(lit("B")).as("side"), col("t"), col("ev"))
      .localCheckpoint()
    val counts = tagged.groupBy("side", "t")
      .agg(count(lit(1)).as("n_at"),
        sum(col("ev")).cast("long").as("d"))
    val grid = counts.select(col("t")).distinct()
      .crossJoin(broadcast(tagged.select(col("side")).distinct()))
      .join(counts, Seq("side", "t"), "left")
      .select(col("side"), col("t"),
        coalesce(col("n_at"), lit(0L)).as("n_at"),
        coalesce(col("d"), lit(0L)).as("d"))
    val wRisk = Window.partitionBy("side").orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perT = grid
      .withColumn("n_risk", sum(col("n_at")).over(wRisk))
      .groupBy(col("t"))
      .agg(
        coalesce(sum(when(col("side") === "A", col("d"))), lit(0L))
          .as("da"),
        coalesce(sum(when(col("side") === "B", col("d"))), lit(0L))
          .as("db"),
        coalesce(sum(when(col("side") === "A", col("n_risk"))),
          lit(0L)).as("na"),
        coalesce(sum(when(col("side") === "B", col("n_risk"))),
          lit(0L)).as("nb"))
      .where(col("da") + col("db") > 0L)
    val d = (col("da") + col("db")).cast("double")
    val n = (col("na") + col("nb")).cast("double")
    val pin = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val folded = perT
      .withColumn("__u", col("da").cast("double")
        - d * col("na").cast("double") / n)
      .withColumn("__v", when(n > 1.0,
        d * (col("na").cast("double") / n)
          * (col("nb").cast("double") / n) * (n - d) / (n - lit(1.0)))
        .otherwise(lit(0.0)))
      .withColumn("U", sum(col("__u")).over(pin))
      .withColumn("V", sum(col("__v")).over(pin))
    val summary = broadcast(tagged.agg(
      sum(when(col("side") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("side") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("side") === "A", col("ev").cast("long"))
        .otherwise(0L)).as("events_a"),
      sum(when(col("side") === "B", col("ev").cast("long"))
        .otherwise(0L)).as("events_b")))
    val chi2 = when(col("V") > 0.0 && col("n_groups") === 2L,
      col("U") * col("U") / col("V"))
    folded.select(col("U"), col("V")).limit(1)
      .crossJoin(summary).crossJoin(gmin)
      .select(col("n_a"), col("n_b"), col("events_a"), col("events_b"),
        round(col("U"), 6).as("observed_minus_expected"),
        round(col("V"), 6).as("variance"),
        round(chi2, 6).as("chi2"),
        (chi2 > lit(3.841459)).as("groups_differ_5pct"))
  }

  /** Per-key Theil-Sen robust trend: slope = median of all pairwise
    * slopes (y_j−y_i)/(x_j−x_i) over x_i < x_j, intercept = median of
    * (y_i − slope·x_i) — the outlier-resistant regression line
    * (scipy.stats.theilslopes; breakdown point ~29% vs OLS's 0).
    *
    * CONTRACT: the per-key series must be PRE-AGGREGATED and bounded
    * (monthly/daily rollups — the [[Windows]] series discipline): the
    * pair self-join is O(n²) per key and the exact median buffers one
    * group's slopes, so n is the time-grid cardinality, never raw rows.
    * Under that bound the whole op is two key-partitioned shuffles: the
    * equi-key pair join + slope median, then the intercept median over
    * the slope-joined base. Ties in x within a key must not exist
    * (strict x_i < x_j drops nothing only when x is unique per key —
    * aggregate first). Medians interpolate (h = (n−1)/2, both engines'
    * continuous-quantile definition); output rounded to 6.
    */
  def theilSen(series: DataFrame, keyCol: String, xCol: String,
               yCol: String): DataFrame = {
    val base = series
      .select(col(keyCol).as("k"), col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .where(col("k").isNotNull && col("x").isNotNull &&
        col("y").isNotNull)
      .localCheckpoint()
    val slopes = base.as("a")
      .join(base.as("b"), col("a.k") === col("b.k") &&
        col("a.x") < col("b.x"))
      .select(col("a.k").as("k"),
        ((col("b.y") - col("a.y")) / (col("b.x") - col("a.x")))
          .as("sl"))
      .groupBy(col("k"))
      .agg(percentile(col("sl"), lit(0.5)).as("__slope"))
    base.join(slopes, "k")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_points"),
        round(first(col("__slope")), 6).as("slope"),
        round(percentile(col("y") - col("__slope") * col("x"),
          lit(0.5)), 6).as("intercept"))
      .orderBy("k")
  }

  /** Mutual information between two categorical columns — the
    * feature-selection / dependence screen (sklearn
    * `mutual_info_score`), reported as the per-cell decomposition:
    * joint count, pointwise MI ln(p_xy/(p_x·p_y)), and the cell's
    * contribution p_xy·pmi (their sum is the MI in nats).
    *
    * Scale shape: ONE corpus-scale groupBy to (x, y) cell counts
    * (map-side combined, checkpointed so marginals and total read the
    * cell frame, not the corpus); marginals and the 1-row total are
    * cell-frame aggregates broadcast back — the [[Text.collocations]]
    * PMI discipline. Output bounded by |X|·|Y|.
    */
  def mutualInformation(df: DataFrame, xCol: String,
                        yCol: String): DataFrame = {
    val cells = df
      .select(col(xCol).as("x"), col(yCol).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val nx = cells.groupBy(col("x")).agg(sum(col("n")).as("nx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("n")).as("ny"))
    val total = cells.agg(sum(col("n")).cast("double").as("__N"))
    cells
      .join(nx, Seq("x")).join(ny, Seq("y"))
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(log(
        col("n").cast("double") * col("__N") /
          (col("nx").cast("double") * col("ny").cast("double"))), 6))
      .withColumn("contrib", round(
        (col("n").cast("double") / col("__N")) * log(
          col("n").cast("double") * col("__N") /
            (col("nx").cast("double") * col("ny").cast("double"))), 6))
      .select(col("x"), col("y"), col("n"), col("pmi"), col("contrib"))
      .orderBy(col("x"), col("y"))
  }

  /** Nelson-Aalen cumulative-hazard estimator per group — the additive
    * twin of [[kaplanMeier]]'s product-limit curve (lifelines
    * `NelsonAalenFitter`): H(t) = Σ_{t_i ≤ t} d_i/n_i, with Aalen's
    * variance Σ d_i(n_i−d_i)/n_i³ and the Breslow survival exp(−H).
    * Hazard is the more natural scale for comparing groups (hazard
    * RATIOS are differences of H) and for spotting non-proportional
    * periods a single KM curve blurs.
    *
    * Same input contract as [[kaplanMeier]]: one row per subject,
    * integer duration, 0/1 event (0 = censored; censored-at-t subjects
    * count as at-risk at t).
    *
    * Determinism: counts are exact integers; each per-time hazard is
    * one correctly-rounded division, and the cumulative folds run in
    * PINNED t order (ORDER BY t ROWS UNBOUNDED PRECEDING — mirror the
    * same frame in any oracle), so the double sums are bit-identical
    * cross-engine before the final round(…,6).
    *
    * Scale shape: identical to [[kaplanMeier]] — subjects collapse to
    * (group, duration) counts with map-side combine, then every window
    * runs over the distinct-duration frame (bounded by the time grid,
    * never subject count).
    */
  def nelsonAalen(subjects: DataFrame, groupCol: String,
                  durationCol: String, eventCol: String): DataFrame = {
    val wCum = Window.partitionBy("grp").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskSets(subjects, groupCol, durationCol, eventCol)
      .withColumn("__h", col("d_events").cast("double") /
        col("n_risk").cast("double"))
      .withColumn("__v", col("d_events").cast("double") *
        (col("n_risk") - col("d_events")).cast("double") /
        (col("n_risk").cast("double") * col("n_risk").cast("double") *
          col("n_risk").cast("double")))
      .withColumn("cum_hazard", round(sum(col("__h")).over(wCum), 6))
      .withColumn("hazard_var", round(sum(col("__v")).over(wCum), 6))
      .withColumn("breslow_survival",
        round(exp(lit(0.0) - sum(col("__h")).over(wCum)), 6))
      .where(col("d_events") > 0)
      .select(col("grp"), col("t"), col("n_risk"), col("d_events"),
        col("cum_hazard"), col("hazard_var"), col("breslow_survival"))
      .orderBy(col("grp"), col("t"))
  }

  /** Cluster-jackknife standard error for a RATIO metric — the
    * delete-one-unit variance estimate every "revenue per order" /
    * "conversion per user" readout needs when rows are correlated
    * within units (orders within a customer): θ̂ = ΣN/ΣD, pseudo-value
    * θ̂₍ᵢ₎ = (ΣN−nᵢ)/(ΣD−dᵢ), SE² = (m−1)/m · Σ(θ̂₍ᵢ₎ − θ̄)². A normal-
    * approximation 95% CI (±1.959964·SE, published constant) closes
    * the readout.
    *
    * Determinism (the dyadic-lattice discipline): per-unit sums floor
    * onto the 2⁻⁶ grid, so the GLOBAL ΣN/ΣD are exact in any shuffle
    * order; each pseudo-value is one exact-operand quotient floored
    * onto the 2^-gridBits lattice, so their sum and the squared-
    * deviation sum (terms floored likewise) are exact too — every
    * float the engines compare is either a lattice point or a single
    * correctly-rounded op on identical inputs.
    *
    * Scale shape: one corpus groupBy to the unit frame (map-side
    * combined, checkpointed), then two broadcast-scalar passes over
    * it — no window, no sort; output is ONE row. Units whose removal
    * empties the denominator are excluded from the pseudo-value set
    * (n_pseudo reports the survivors).
    */
  def jackknifeRatio(df: DataFrame, unitCol: String, numCol: String,
                     denCol: String, gridBits: Int = 30): DataFrame = {
    require(gridBits >= 10 && gridBits <= 40,
      "jackknifeRatio needs 10 <= gridBits <= 40")
    val grid = math.pow(2.0, gridBits)
    val per = df
      .groupBy(col(unitCol).as("__u"))
      .agg(sum(col(numCol).cast("double")).as("__sn"),
        sum(col(denCol).cast("double")).as("__sd"))
      .select(col("__u"),
        (floor(col("__sn") * 64.0) / 64.0).as("__nq"),
        (floor(col("__sd") * 64.0) / 64.0).as("__dq"))
      .localCheckpoint()
    val tot = broadcast(per.agg(
      sum(col("__nq")).as("__SN"), sum(col("__dq")).as("__SD"),
      count(lit(1)).as("__m")))
    val pseudo = per.crossJoin(tot)
      .where(col("__SD") - col("__dq") =!= 0.0)
      .withColumn("__ti",
        floor((col("__SN") - col("__nq")) / (col("__SD") - col("__dq"))
          * lit(grid)) / lit(grid))
      .localCheckpoint()
    val mean = broadcast(pseudo.agg(
      sum(col("__ti")).as("__S1"), count(lit(1)).as("__mm")))
    pseudo.crossJoin(mean)
      .withColumn("__tbar", col("__S1") / col("__mm").cast("double"))
      .withColumn("__sq",
        floor((col("__ti") - col("__tbar")) *
          (col("__ti") - col("__tbar")) * lit(grid)) / lit(grid))
      .agg(max(col("__m")).as("n_units"),
        max(col("__mm")).as("n_pseudo"),
        max(col("__SN") / col("__SD")).as("__th"),
        sum(col("__sq")).as("__sse"),
        max(col("__mm")).cast("double").as("__md"))
      .select(col("n_units"), col("n_pseudo"),
        round(col("__th"), 6).as("theta"),
        round(sqrt((col("__md") - 1.0) / col("__md") * col("__sse")), 6)
          .as("jk_se"),
        round(col("__th") - lit(1.959964) *
          sqrt((col("__md") - 1.0) / col("__md") * col("__sse")), 6)
          .as("ci_lo"),
        round(col("__th") + lit(1.959964) *
          sqrt((col("__md") - 1.0) / col("__md") * col("__sse")), 6)
          .as("ci_hi"))
  }

  /** Benjamini-Hochberg FDR control over a family of per-key p-values —
    * the multiple-testing guardrail every fleet-wide monitoring scan
    * needs (run [[Drift.pettittChangepoint]] over hundreds of metric
    * series and 5% of them "change" by chance alone; BH caps the
    * expected fraction of false alarms among the alarms). Standard
    * step-up: sort p ascending (ties broken by key — total order),
    * k* = max{i : p_(i) ≤ q·i/m}, reject ranks ≤ k*; the published
    * `p_adj` is the usual monotone adjusted value
    * min_{j ≥ i} (m·p_(j)/j) clamped at 1.
    *
    * Determinism: ranks and m are exact integers; every float is a
    * fixed left-to-right expression over the (already-rounded) input
    * p-values, and the reverse-cumulative min runs in PINNED rank
    * order, so both engines fold identically before the round(…,6).
    *
    * Scale shape: the whole computation runs over the FAMILY frame —
    * one row per tested metric (hundreds, not corpus rows); the
    * unpartitioned windows are bounded by the family size. The
    * corpus-scale work happened upstream in whatever produced the
    * p-values.
    */
  def fdrBh(pvals: DataFrame, keyCol: String, pCol: String,
            q: Double = 0.05): DataFrame = {
    require(q > 0.0 && q < 1.0, "fdrBh needs q in (0, 1)")
    val wRank = Window.orderBy(col("p_value").asc, col("key").asc)
    val wAll = wRank.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wTail = wRank.rowsBetween(Window.currentRow,
      Window.unboundedFollowing)
    pvals
      .select(col(keyCol).as("key"),
        col(pCol).cast("double").as("p_value"))
      .where(col("key").isNotNull && col("p_value").isNotNull)
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("bh_threshold",
        round(lit(q) * col("rank") / col("__m"), 6))
      .withColumn("p_adj", round(least(lit(1.0),
        min(col("p_value") * col("__m") / col("rank")).over(wTail)), 6))
      .withColumn("__kstar", max(
        when(col("p_value") <= lit(q) * col("rank") / col("__m"),
          col("rank")).otherwise(0)).over(wAll))
      .select(col("key"), col("p_value"), col("rank"),
        col("bh_threshold"), col("p_adj"),
        (col("rank") <= col("__kstar")).as("rejected"))
      .orderBy("rank")
  }

  /** Count-min-sketch heavy hitters with DETERMINISTIC md5 row hashes —
    * the frequency sketch (Cormode & Muthukrishnan '05) whose entire
    * state is a depth×width counter grid regardless of key cardinality.
    * Unlike the HLL/t-digest surface (engine-specific internals,
    * rows-only gate), a fixed-hash CMS is exactly replayable in any
    * engine: bucket_j(key) = h60("cms<j>_" ‖ key) mod width, counter =
    * Σ counts landing there, estimate(key) = min_j counter_j[bucket_j]
    * — always ≥ the true count, and the published `overestimate`
    * column is the per-key collision error made visible.
    *
    * Scale shape: ONE corpus groupBy collapses rows to the key domain
    * (map-side combined; also the exact baseline the report compares
    * against); the sketch is built FROM that frame — depth width-
    * bounded counter tables (d·w cells of state, the serving
    * artifact), broadcast back onto the key frame for the estimate
    * join. Top-k is TakeOrdered on (estimate desc, key) — a total
    * order, never a global sort.
    */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, depth: Int = 4,
                      width: Int = 256, topK: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16,
      "cmsHeavyHitters needs 1 <= depth <= 8 and width >= 16")
    val counts = df
      .select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
      .localCheckpoint()
    val hashed = counts.select(col("key") +: col("exact_n") +:
      (0 until depth).map(j =>
        (Dedup.h60(concat(lit(s"cms${j}_"), col("key"))) % width)
          .as(s"__b$j")): _*)
    val joined = (0 until depth).foldLeft(hashed) { (acc, j) =>
      acc.join(broadcast(hashed.groupBy(col(s"__b$j"))
        .agg(sum(col("exact_n")).as(s"__c$j"))), Seq(s"__b$j"))
    }
    joined
      .withColumn("estimate",
        least((0 until depth).map(j => col(s"__c$j")): _*))
      .select(col("key"), col("estimate"), col("exact_n"),
        (col("estimate") - col("exact_n")).as("overestimate"))
      .orderBy(col("estimate").desc, col("key").asc)
      .limit(topK)
  }

  /** Mann-Kendall trend test per series — the nonparametric "is there a
    * monotone trend at all?" gate that [[theilSen]]'s slope estimate
    * begs for (scipy/pymannkendall `original_test`): over a (key, x, y)
    * series, S = Σ_{i<j, x_i<x_j} sgn(y_j − y_i); tie-corrected
    * Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18 over the
    * y-value tie groups; continuity-corrected z = (S∓1)/√Var (0 when
    * S=0); trend labelled at the two-sided 5% normal critical 1.959964
    * (published constant — no CDF evaluation).
    *
    * Determinism: S, n, and the tie term are EXACT INTEGERS (sign
    * comparisons and counts only — no float accumulates across rows);
    * z is a single quotient of exact integers' casts, rounded to 6.
    *
    * Scale shape: the pairwise self-join is per-key over the series
    * frame — bounded by (points per key)², the [[theilSen]] contract
    * (these are aggregated time grids of tens-to-hundreds of points,
    * not raw corpora); the tie scan is one (key, y) groupBy.
    */
  def mannKendall(series: DataFrame, keyCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val base = series
      .select(col(keyCol).as("k"), col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .where(col("k").isNotNull && col("x").isNotNull &&
        col("y").isNotNull)
      .localCheckpoint()
    val s = base.as("a")
      .join(base.as("b"), col("a.k") === col("b.k") &&
        col("a.x") < col("b.x"))
      .groupBy(col("a.k").as("k"))
      .agg(sum(signum(col("b.y") - col("a.y")).cast("long")).as("s"))
    val ties = base.groupBy(col("k"), col("y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("__nv"),
        sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5))
          .as("tie_term"),
        sum(col("__t")).as("n_points"))
    val n = col("n_points")
    val varS = (n * (n - 1) * (lit(2) * n + 5) - col("tie_term"))
      .cast("double") / 18.0
    s.join(ties, Seq("k"))
      .withColumn("var_s", varS)
      .withColumn("z", round(
        when(col("var_s") > 0.0 && col("s") > 0,
          (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("var_s") > 0.0 && col("s") < 0,
            (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)), 6))
      .withColumn("trend",
        when(col("z") > 1.959964, "increasing")
          .when(col("z") < -1.959964, "decreasing")
          .otherwise(lit("no_trend")))
      .select(col("k"), col("n_points"), col("s"), col("tie_term"),
        round(col("var_s"), 6).as("var_s"), col("z"), col("trend"))
      .orderBy("k")
  }
}
