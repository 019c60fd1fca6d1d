package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model persistence and transport (S11 + F25). The reference serializes
  * fitted models with joblib to a binary file
  * (`/root/reference/dags/forecasting_dag.py:237-238` model sink) and ships
  * them between Airflow tasks base64-encoded in XCom
  * (`/root/reference/dags/forecasting_dag.py:187-204` — `joblib.dump` +
  * `b64encode`, then `b64decode` + `joblib.load`). Engine-native, a "model" is
  * what it always was underneath: a small PARAMETER TABLE. Persistence is
  * a parquet sink/source; transport is a canonical per-row payload —
  * printf-formatted JSON, base64-encoded — that any engine reproduces
  * byte-identically (the DuckDB oracle builds the same base64 from the
  * same printf).
  *
  * Scale notes: a parameter table is broadcast-sized by construction; the
  * round-trip never touches the driver (encode/decode are codegen'd
  * expressions), so shipping a model to 1000 executors is one broadcast,
  * not 1000 file reads.
  */
object Models {

  /** S11 sink: persist a parameter table as the model artifact. */
  def saveModel(params: DataFrame, path: String): Unit =
    params.write.mode("overwrite").parquet(path)

  /** S11 source: load a persisted model's parameter table, with its
    * schema resolved once per version of the path ([[graft.Tables.read]]).
    */
  def loadModel(spark: SparkSession, path: String): DataFrame =
    graft.Tables.read(spark, path)

  /** F25 encode: one transport payload per parameter row —
    * `{"param":"<key>","mu":<%.6f>,"sigma":<%.6f>}` base64-encoded.
    * printf formatting (not engine-default double rendering) pins the
    * payload bytes across engines; values are `round(x, 6)`-ed FIRST so
    * an exact 7-digit dyadic tie (e.g. 2⁻⁷ = 0.0078125) can't hit the
    * formatter's rounding step, where Java (HALF_UP) and C printf
    * (half-even) disagree. NaN/NULL values (stddev of a 1-row group is
    * NaN in Spark, NULL in SQL engines) are normalized to JSON null so
    * the payload stays valid JSON and both engines emit identical bytes.
    * The key is emitted through `to_json` (Jackson escaping) so a key
    * containing `"` / `\` / control characters still yields valid JSON
    * that [[fromTransport]] decodes losslessly; for clean keys the bytes
    * are identical to the raw printf form, so oracle parity is unchanged.
    */
  def toTransport(params: DataFrame, keyCol: String, muCol: String,
                  sigmaCol: String): DataFrame = {
    def jsonNum(c: Column): Column =
      when(c.isNull || isnan(c), lit("null"))
        .otherwise(format_string("%.6f", round(c, 6)))
    // {"param":"<escaped key>"} minus the closing brace. A NULL key needs
    // its own branch: to_json drops null struct fields (ignoreNullFields),
    // so stripping the brace of "{}" would yield "{" and a malformed
    // payload — emit the explicit JSON null instead.
    val keyJson = to_json(struct(col(keyCol).as("param")))
    val keyPart = when(col(keyCol).isNull, lit("""{"param":null"""))
      .otherwise(keyJson.substr(lit(1), length(keyJson) - 1))
    params.select(col(keyCol).as("param"),
      base64(concat(keyPart,
        format_string(""","mu":%s,"sigma":%s}""",
          jsonNum(col(muCol)), jsonNum(col(sigmaCol)))).cast("binary"))
        .as("payload_b64"))
  }

  /** F25 decode: recover the parameters from a transport payload. */
  def fromTransport(payloads: DataFrame, b64Col: String): DataFrame =
    payloads
      .withColumn("__json", unbase64(col(b64Col)).cast("string"))
      .select(col(b64Col),
        get_json_object(col("__json"), "$.param").as("param"),
        get_json_object(col("__json"), "$.mu").cast("double").as("mu"),
        get_json_object(col("__json"), "$.sigma").cast("double").as("sigma"))

  /** Deterministic md5-derived demo weights (the LSH-hyperplane recipe
    * with a `wgt_` prefix): one row, `w` = `dims` components in [-1, 1).
    * Any engine reproduces them from the recipe, which is what makes
    * [[scoreLinear]]'s output exactly oracle-checkable.
    */
  def md5Weights(spark: SparkSession, tag: String, dims: Int): DataFrame = {
    import spark.implicits._
    Seq((0 until dims).map { d =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wgt_${tag}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 2000001L - 1000000L) / 1000000.0
    }.toArray).toDF("w")
  }

  /** Batch model scoring — the executor-side shape of every "run the
    * classifier over the corpus" job: score = σ(w·v + b) over a vector
    * column, weights as a BROADCAST one-row table (data, not literal
    * plan nodes — the LSH-planes rule). The w·v kernel is the native
    * codegen'd [[graft.functions.DotProduct]] (`dot_prod`) — one fused
    * loop per row instead of the interpreted `aggregate(zip_with(...))`
    * fold's two lambda dispatches per component; the HOF spelling it
    * replaced is kept bit-identical by DotProductSpec, and both
    * accumulate left-to-right like DuckDB's `list_dot_product`, so the
    * oracle is unchanged. `predicted` is derived from the ROUNDED score
    * (`round(σ(z),6) > 0.5`): the raw margin's sign depends on float
    * summation ORDER when |z| is within a few ulps of 0 (Spark folds
    * sequentially, another engine may not), while the round(…,6)
    * boundary is deterministic on both sides — a margin that tiny
    * rounds σ(z) to exactly 0.500000, which both engines classify
    * false.
    *
    * Malformed vectors (dimension mismatch vs the weight table, or null
    * elements) score NULL — the detectable data-quality signal the HOF
    * fold gave for free via null propagation; the native kernel would
    * otherwise silently score the common prefix. Requires the session to
    * carry [[graft.GraftExtensions]] (`Graft.session` does) for
    * `dot_prod`.
    */
  def scoreLinear(emb: DataFrame, idCol: String, vecCol: String,
                  extraCols: Seq[String], weights: DataFrame,
                  bias: Double): DataFrame = {
    Par.requireKernel(emb.sparkSession, "dot_prod")
    val v = Similarity.doubles(vecCol)
    Par.ensure(emb)
      .select((col(idCol) +: extraCols.map(col)) :+ v.as("__v"): _*)
      .crossJoin(broadcast(weights))
      .withColumn("__z",
        when(size(col("__v")) === size(col("w")) &&
          !exists(col("__v"), _.isNull),
          call_function("dot_prod", col("__v"), col("w")) + bias))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("__z"))), 6))
      .select((col(idCol) +: extraCols.map(col)) ++ Seq(
        col("score"), (col("score") > 0.5).as("predicted")): _*)
      .orderBy(idCol)
  }

  /** Closed-form OLS fit for THREE regressors plus an intercept — linear
    * model FITTING as a pure query: one codegen'd pass of distributed
    * moment sums (the same centered normal-equation machinery as
    * [[graft.ops.Windows.adfTestAutolag]]'s candidate fits — 3×3 Cramer
    * over centered moments), then scalar arithmetic. With
    * [[scoreLinear]] and the evaluation family this closes the loop:
    * fit → score → evaluate without leaving the engine. The reference
    * delegates fitting to statsmodels/sklearn
    * (`/root/reference/dags/forecasting_dag.py:174-184`); iterative
    * learners (SARIMAX, XGBoost) stay out of scope, but OLS *is* a
    * closed form over sums, i.e. native query-engine work.
    *
    * Output: one row — n, intercept b0, slopes b1..b3 (in `xCols`
    * order), r2 — all rounded at 6 after the final arithmetic.
    */
  def fitLinear3(df: DataFrame, xCols: Seq[String],
                 yCol: String): DataFrame = {
    require(xCols.size == 3, "fitLinear3 takes exactly three regressors")
    val Seq(c1, c2, c3) = xCols.map(c => col(c).cast("double"))
    val y = col(yCol).cast("double")
    val sums = df.agg(
      count(lit(1)).cast("double").as("n"),
      sum(c1).as("s1"), sum(c2).as("s2"), sum(c3).as("s3"),
      sum(y).as("sy"),
      sum(c1 * c1).as("s11"), sum(c1 * c2).as("s12"),
      sum(c1 * c3).as("s13"), sum(c2 * c2).as("s22"),
      sum(c2 * c3).as("s23"), sum(c3 * c3).as("s33"),
      sum(c1 * y).as("s1y"), sum(c2 * y).as("s2y"),
      sum(c3 * y).as("s3y"), sum(y * y).as("syy"))
    sums
      .withColumn("S11", col("s11") - col("s1") * col("s1") / col("n"))
      .withColumn("S12", col("s12") - col("s1") * col("s2") / col("n"))
      .withColumn("S13", col("s13") - col("s1") * col("s3") / col("n"))
      .withColumn("S22", col("s22") - col("s2") * col("s2") / col("n"))
      .withColumn("S23", col("s23") - col("s2") * col("s3") / col("n"))
      .withColumn("S33", col("s33") - col("s3") * col("s3") / col("n"))
      .withColumn("S1y", col("s1y") - col("s1") * col("sy") / col("n"))
      .withColumn("S2y", col("s2y") - col("s2") * col("sy") / col("n"))
      .withColumn("S3y", col("s3y") - col("s3") * col("sy") / col("n"))
      .withColumn("Syy", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("det",
        col("S11") * (col("S22") * col("S33") - col("S23") * col("S23"))
          - col("S12") * (col("S12") * col("S33") - col("S23") * col("S13"))
          + col("S13") * (col("S12") * col("S23") - col("S22") * col("S13")))
      .withColumn("b1",
        (col("S1y") * (col("S22") * col("S33") - col("S23") * col("S23"))
          - col("S12") * (col("S2y") * col("S33") - col("S23") * col("S3y"))
          + col("S13") * (col("S2y") * col("S23") - col("S22") * col("S3y")))
          / col("det"))
      .withColumn("b2",
        (col("S11") * (col("S2y") * col("S33") - col("S23") * col("S3y"))
          - col("S1y") * (col("S12") * col("S33") - col("S23") * col("S13"))
          + col("S13") * (col("S12") * col("S3y") - col("S2y") * col("S13")))
          / col("det"))
      .withColumn("b3",
        (col("S11") * (col("S22") * col("S3y") - col("S2y") * col("S23"))
          - col("S12") * (col("S12") * col("S3y") - col("S2y") * col("S13"))
          + col("S1y") * (col("S12") * col("S23") - col("S22") * col("S13")))
          / col("det"))
      .withColumn("b0", (col("sy") - col("b1") * col("s1")
        - col("b2") * col("s2") - col("b3") * col("s3")) / col("n"))
      .withColumn("sse", col("Syy") - col("b1") * col("S1y")
        - col("b2") * col("S2y") - col("b3") * col("S3y"))
      .select(col("n").cast("long").as("n"),
        // + 0.0 canonicalizes IEEE -0.0 (a standardized fit's intercept
        // is a rounding-noise zero whose sign is engine-dependent)
        (round(col("b0"), 6) + lit(0.0)).as("b0"),
        (round(col("b1"), 6) + lit(0.0)).as("b1"),
        (round(col("b2"), 6) + lit(0.0)).as("b2"),
        (round(col("b3"), 6) + lit(0.0)).as("b3"),
        round(lit(1.0) - col("sse") / col("Syy"), 6).as("r2"))
  }

  /** Numerical conditioning note for [[fitLinear3]]: the centered-moment
    * closed form cancels catastrophically when |mean| >> stddev and
    * magnitudes are large (Σx² and (Σx)²/n agree in their leading ~10
    * digits for raw monetary columns), which is amplified through the
    * Cramer solve — fine within one engine, but cross-engine float-sum
    * order then shifts coefficients above the 6-decimal comparison
    * grain. Standardize the variables first (as the q_fit_linear gate
    * does): O(1) centered magnitudes keep every moment fully precise and
    * the betas reproducible to ~1e-10 under any summation order.
    */

  /** Classification evaluation report — the engine analogue of the
    * reference's `evaluate_model`, which prints sklearn's
    * `classification_report` over the fitted classifier's predictions
    * (`/root/reference/dags/classification_dag.py:116-125`). One row per
    * class (precision/recall/F1/support) plus the report's summary rows
    * (`accuracy`, `macro avg`, `weighted avg`), sklearn semantics
    * throughout: classes are the union of observed label and prediction
    * values, zero denominators score 0 (sklearn `zero_division=0`), macro
    * averages are unweighted over all report classes, weighted averages
    * are support-weighted, and the accuracy row repeats the scalar across
    * the three metric columns with total support. Rows with a NULL label
    * or NULL prediction are EXCLUDED — [[scoreLinear]] deliberately
    * predicts NULL for malformed vectors, and sklearn would refuse NULLs
    * outright; excluding them keeps the class set real (a NULL "class"
    * would also break the full joins below, whose keys never match NULL)
    * while the caller watches the malformed count via the scoring output.
    *
    * Scale shape: everything derives from the (label × prediction)
    * confusion counts — one groupBy over the scored corpus shuffling only
    * the two class columns, then driver-trivial arithmetic on a
    * classes²-row frame. Metrics round at 6 AFTER the final arithmetic;
    * summary rows aggregate the UNROUNDED per-class values.
    */
  def evalClassification(preds: DataFrame, labelCol: String,
                         predCol: String): DataFrame = {
    val base = preds.select(col(labelCol).cast("string").as("__l"),
      col(predCol).cast("string").as("__p"))
      .filter(col("__l").isNotNull && col("__p").isNotNull)
    val conf = base.groupBy("__l", "__p").agg(count(lit(1)).as("c"))
    val act = conf.groupBy(col("__l").as("cls")).agg(sum(col("c")).as("support"))
    val prd = conf.groupBy(col("__p").as("cls")).agg(sum(col("c")).as("npred"))
    val tps = conf.filter(col("__l") === col("__p"))
      .groupBy(col("__l").as("cls")).agg(sum(col("c")).as("tp"))
    val per = act.join(prd, Seq("cls"), "full").join(tps, Seq("cls"), "full")
      .select(col("cls"), coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("npred"), lit(0L)).as("npred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("p", when(col("npred") === 0, lit(0.0))
        .otherwise(col("tp") / col("npred")))
      .withColumn("r", when(col("support") === 0, lit(0.0))
        .otherwise(col("tp") / col("support")))
      .withColumn("f", when(col("p") + col("r") === lit(0.0), lit(0.0))
        .otherwise(lit(2.0) * col("p") * col("r") / (col("p") + col("r"))))
    val tot = per.agg(
      sum(col("tp")).as("tpsum"), sum(col("support")).as("n"),
      count(lit(1)).as("k"),
      sum(col("p")).as("sp"), sum(col("r")).as("sr"), sum(col("f")).as("sf"),
      sum(col("p") * col("support")).as("wp"),
      sum(col("r") * col("support")).as("wr"),
      sum(col("f") * col("support")).as("wf"))
    def summary(name: String, pc: Column, rc: Column, fc: Column) =
      tot.select(lit(name).as("cls"), round(pc, 6).as("precision"),
        round(rc, 6).as("recall"), round(fc, 6).as("f1"),
        col("n").as("support"))
    val accuracy = col("tpsum") / col("n")
    per.select(col("cls"), round(col("p"), 6).as("precision"),
        round(col("r"), 6).as("recall"), round(col("f"), 6).as("f1"),
        col("support"))
      .unionByName(summary("accuracy", accuracy, accuracy, accuracy))
      .unionByName(summary("macro avg", col("sp") / col("k"),
        col("sr") / col("k"), col("sf") / col("k")))
      .unionByName(summary("weighted avg", col("wp") / col("n"),
        col("wr") / col("n"), col("wf") / col("n")))
      .orderBy("cls")
  }

  /** Confusion matrix as a pivoted frame: one row per actual class, one
    * `pred_<cls>` column per predicted class — the table
    * `classification_report` summarizes. `classes` is explicit so the
    * output schema is deterministic (and oracle-expressible) regardless of
    * which cells are empty in the data.
    */
  def confusionMatrix(preds: DataFrame, labelCol: String, predCol: String,
                      classes: Seq[String]): DataFrame = {
    val base = preds.select(col(labelCol).cast("string").as("actual"),
      col(predCol).cast("string").as("__p"))
      .filter(col("actual").isNotNull && col("__p").isNotNull)
    base.groupBy("actual")
      .pivot("__p", classes)
      .agg(count(lit(1)))
      .na.fill(0L, classes)
      .select(col("actual") +: classes.map(c =>
        col(s"`$c`").as(s"pred_$c")): _*)
      .orderBy("actual")
  }

  /** Exact ROC-AUC with tie handling — the rank-sum (Mann–Whitney) form:
    * AUC = P(score⁺ > score⁻) + ½·P(tie). Grouped by DISTINCT score
    * first, so the only ordered pass runs over the score domain (bounded
    * for rounded scores — `scoreLinear` emits 6-decimal sigmoids — not
    * the corpus), then each score group contributes
    * pos·(negatives_below + ½·negatives_tied). The final division uses
    * the ordered-window total so both engines accumulate the numerator
    * in the same order.
    */
  def rocAuc(preds: DataFrame, labelCol: String,
             scoreCol: String): DataFrame = {
    val lbl = col(labelCol).cast("int")
    val perScore = preds
      .select(col(scoreCol).cast("double").as("s"), lbl.as("__l"))
      .groupBy("s")
      .agg(sum(col("__l").cast("long")).as("pos"),
        sum((lit(1) - col("__l")).cast("long")).as("neg"))
    val cum = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tot = perScore.agg(sum(col("pos")).as("np"), sum(col("neg")).as("nn"))
    perScore.crossJoin(broadcast(tot))
      .withColumn("below", sum(col("neg")).over(cum) - col("neg"))
      .withColumn("won",
        col("pos") * (col("below") + col("neg") / lit(2.0)))
      .withColumn("num", sum(col("won")).over(whole))
      .agg(max(col("np")).as("n_pos"), max(col("nn")).as("n_neg"),
        round(max(col("num")) / (max(col("np")) * max(col("nn"))), 6)
          .as("auc"))
  }

  /** Exact PR-AUC as average precision with tie groups (sklearn
    * `average_precision_score` semantics: AP = Σ (Rₖ − Rₖ₋₁)·Pₖ over the
    * threshold sweep, one step per DISTINCT score, descending): the same
    * bounded-score-domain posture as [[rocAuc]] — the corpus collapses to
    * per-score (pos, neg) counts map-side, the cumulative precision/recall
    * windows run over the score domain only. The preferred eval metric
    * when positives are rare (LLM-corpus quality filters routinely sit at
    * <1% positive, where ROC-AUC saturates).
    */
  def prAuc(preds: DataFrame, labelCol: String,
            scoreCol: String): DataFrame = {
    val lbl = col(labelCol).cast("int")
    val perScore = preds
      .select(col(scoreCol).cast("double").as("s"), lbl.as("__l"))
      .groupBy("s")
      .agg(sum(col("__l").cast("long")).as("pos"),
        sum((lit(1) - col("__l")).cast("long")).as("neg"))
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perScore.agg(sum(col("pos")).as("np"), sum(col("neg")).as("nn"))
    perScore.crossJoin(broadcast(tot))
      .withColumn("cum_tp", sum(col("pos")).over(cum))
      .withColumn("cum_n", sum(col("pos") + col("neg")).over(cum))
      .withColumn("step",
        (col("pos") / col("np")) * (col("cum_tp") / col("cum_n")))
      // ordered-window sum, not a plain agg: both engines accumulate the
      // AP numerator in the same (score-ascending) order, so the rounded
      // value cannot flip on parallel-summation order (rocAuc discipline)
      .withColumn("ap", sum(col("step")).over(Window.orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(max(col("np")).as("n_pos"), max(col("nn")).as("n_neg"),
        round(max(col("ap")), 6).as("pr_auc"))
  }

  /** Cumulative gains / lift table: rows ranked by score descending and
    * cut into `buckets` equal-width rank bands; per band the positive
    * rate vs the base rate (lift) and the cumulative share of all
    * positives captured (gain) — how a scored filter's budget knob gets
    * set ("keep the top 20%" ⇒ read capture at bucket 1).
    *
    * Ties are BAND-ATOMIC: rows sharing a score land in the band that
    * contains the tie group's FIRST rank, so the table is deterministic
    * with no tiebreak column and identical cross-engine (an `ntile` over
    * row order would split ties arbitrarily). Same bounded-score-domain
    * windows as [[rocAuc]]/[[prAuc]]; band assignment is integer floor
    * division on cumulative counts. Empty bands (giant tie groups
    * swallowing later bands) are simply absent.
    */
  def liftGain(preds: DataFrame, labelCol: String, scoreCol: String,
               buckets: Int): DataFrame = {
    require(buckets > 0, "liftGain needs buckets > 0")
    val lbl = col(labelCol).cast("int")
    val perScore = preds
      .select(col(scoreCol).cast("double").as("s"), lbl.as("__l"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum(col("__l").cast("long")).as("pos"))
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perScore.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("np"))
    val banded = perScore.crossJoin(broadcast(tot))
      .withColumn("start", sum(col("cnt")).over(cum) - col("cnt"))
      .withColumn("bucket",
        expr(s"(start * $buckets) div n").cast("int"))
      .groupBy("bucket")
      .agg(sum(col("cnt")).as("n_rows"), sum(col("pos")).as("n_pos"),
        max(col("n")).as("__n"), max(col("np")).as("__np"))
    val cumB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded
      .withColumn("cum_pos", sum(col("n_pos")).over(cumB))
      .select(col("bucket"), col("n_rows"), col("n_pos"),
        round((col("n_pos") / col("n_rows"))
          / (col("__np") / col("__n")), 6).as("lift"),
        round(col("cum_pos") / col("__np"), 6).as("capture"))
      .orderBy("bucket")
  }

  /** Calibration curve (reliability diagram feed): scores bucketed into
    * `bins` equal-width bins over [0, 1), per bin the count, mean
    * predicted score and empirical positive rate — how a scored corpus
    * gets sanity-checked before its scores gate a filter. Empty bins are
    * omitted (sklearn `calibration_curve` semantics); NULL scores are
    * excluded (a malformed-vector NULL from [[scoreLinear]] is a
    * data-quality signal, not a 0-probability), and the clamp runs on
    * the long bin index BEFORE the int cast so a corrupt extreme score
    * can't overflow an ANSI cast. One map-side-combined groupBy on the
    * bin id.
    */
  def calibration(preds: DataFrame, labelCol: String, scoreCol: String,
                  bins: Int): DataFrame = {
    require(bins > 0, "calibration needs bins > 0")
    val s = col(scoreCol).cast("double")
    preds
      .filter(s.isNotNull)
      .select(least(greatest(floor(s * bins), lit(0L)),
        lit(bins - 1L)).cast("int").as("bin"), s.as("__s"),
        col(labelCol).cast("int").as("__l"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_score"),
        round(avg(col("__l").cast("double")), 6).as("pos_rate"))
      .orderBy("bin")
  }

  /** Expected / maximum calibration error — [[calibration]]'s
    * reliability table folded into the two numbers a model report
    * quotes: ECE = Σ_b (n_b/N)·|pos_rate_b − mean_score_b| (the
    * frequency-weighted miscalibration) and MCE = max_b of the same
    * gap (the worst bin). Per-bin rows keep the full table visible —
    * WHICH score region is off is the actionable part.
    *
    * Float discipline: the gaps are computed from the PUBLISHED
    * round-6 per-bin stats (the rounded-model-params transport rule:
    * rounded values are cross-engine-exact inputs for downstream
    * arithmetic), the weighted fold runs in PINNED bin order over
    * exact integer counts, and every published column re-rounds to 6.
    *
    * Scale shape: [[calibration]]'s one map-side-combined groupBy,
    * then BINS-bounded window arithmetic.
    */
  def calibrationError(preds: DataFrame, labelCol: String,
                       scoreCol: String, bins: Int): DataFrame = {
    val wPin = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    calibration(preds, labelCol, scoreCol, bins)
      .withColumn("gap",
        round(abs(col("pos_rate") - col("mean_score")), 6))
      .withColumn("n_total", sum(col("n")).over(wPin))
      .select(col("bin"), col("n"), col("mean_score"), col("pos_rate"),
        col("gap"), col("n_total"),
        round(sum(col("n").cast("double") * col("gap")).over(wPin) /
          col("n_total").cast("double"), 6).as("ece"),
        round(max(col("gap")).over(wPin), 6).as("mce"))
      .orderBy("bin")
  }

  /** Pinball (quantile) loss per quantile level — the proper scoring
    * rule for QUANTILE forecasts ([[forecastErrors]]' MAE/RMSE grade a
    * point forecast; a p90 inventory or latency forecast is graded by
    * L_q = mean[q·(y−f)⁺ + (1−q)·(f−y)⁺], which an over-forecast and
    * an under-forecast pay asymmetrically). One row per (key, q):
    * under-forecast share alongside the loss shows WHY a quantile
    * scores badly (a good p90 forecast under-forecasts ~10% of rows).
    *
    * Scale shape: one quantiles-bounded explode over the joined
    * (actual, forecast) frame, then a map-side-combined groupBy —
    * corpus touched once. Rounding: loss and share publish round-6
    * via single conditional averages (the forecastErrors contract).
    */
  def pinballLoss(df: DataFrame, actualCol: String, predCol: String,
                  quantiles: Seq[Double],
                  keyCols: Seq[String]): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall(q => q > 0.0 && q < 1.0) &&
      quantiles == quantiles.sorted &&
      quantiles.distinct.size == quantiles.size,
      "pinballLoss needs strictly increasing quantiles in (0, 1)")
    val y = col(actualCol).cast("double")
    val f = col(predCol).cast("double")
    val base = df.where(y.isNotNull && f.isNotNull)
      .select(keyCols.map(col) :+ y.as("__y") :+ f.as("__f"): _*)
      .withColumn("q", explode(array(quantiles.map(lit): _*)))
    val loss = when(col("__y") >= col("__f"),
      col("q") * (col("__y") - col("__f")))
      .otherwise((lit(1.0) - col("q")) * (col("__f") - col("__y")))
    base
      .groupBy(keyCols.map(col) :+ col("q"): _*)
      .agg(count(lit(1)).as("n_obs"),
        round(avg(loss), 6).as("pinball"),
        round(avg(when(col("__y") > col("__f"), 1.0).otherwise(0.0)), 6)
          .as("under_forecast_share"))
      .orderBy(keyCols.map(col) :+ col("q"): _*)
  }

  /** Isotonic calibration — the monotone probability-remapping table
    * sklearn's `IsotonicRegression`/`CalibratedClassifierCV(isotonic)`
    * fits, as a pure query: scores bin exactly like [[calibration]],
    * then the pool-adjacent-violators solution over the BINS-bounded
    * frame via the minimax identity
    *
    *   iso(i) = max_{j ≤ i} min_{l ≥ j} (pos_j + … + pos_l)/(n_j + … + n_l)
    *
    * — O(bins²) pairs instead of the sequential PAV sweep, which is
    * exactly right here because the corpus collapses to ≤ `bins` rows
    * first (the histogram-percentile trick applied to calibration).
    * Empty bins are absent and pool across the gap; the result is
    * non-decreasing by construction and preserves the weighted mean
    * (Σ n·iso over a pooled block equals Σ pos).
    *
    * Float discipline: every pooled average is a single correctly-rounded
    * quotient of EXACT integer prefix sums, and min/max over identical
    * value sets are order-free — no pinned folds needed; cross-engine
    * equality holds bit-for-bit before the final round-6.
    *
    * Scale notes: one map-side-combined groupBy bins the corpus
    * (shuffle width = bins); everything after runs on the bins-bounded
    * frame (the bins² pair join broadcasts ≤ bins rows). Output: one row
    * per non-empty bin — the lookup table a scorer joins on.
    */
  def isotonicCalibration(preds: DataFrame, labelCol: String,
                          scoreCol: String, bins: Int): DataFrame = {
    require(bins > 0, "isotonicCalibration needs bins > 0")
    val s = col(scoreCol).cast("double")
    val binned = preds.filter(s.isNotNull)
      .select(least(greatest(floor(s * bins), lit(0L)),
        lit(bins - 1L)).cast("int").as("bin"),
        col(labelCol).cast("int").as("__l"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("__l")).cast("bigint").as("pos"))
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("cn", sum(col("n")).over(wCum))
      .withColumn("cp", sum(col("pos")).over(wCum))
    val j = cum.select(col("bin").as("jb"), (col("cn") - col("n")).as("jn0"),
      (col("cp") - col("pos")).as("jp0"))
    val l = cum.select(col("bin").as("lb"), col("cn").as("ln1"),
      col("cp").as("lp1"))
    // min over l >= j of the pooled block average (exact-int quotient)
    val minUp = j.join(l, col("jb") <= col("lb"))
      .select(col("jb"),
        ((col("lp1") - col("jp0")) / (col("ln1") - col("jn0"))).as("a"))
      .groupBy("jb").agg(min(col("a")).as("mu"))
    // max over j <= i: cumulative max in bin order over the bins frame
    val wMax = Window.orderBy("jb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = minUp.withColumn("iso", max(col("mu")).over(wMax))
      .select(col("jb").as("bin"), col("iso"))
    binned.join(iso, Seq("bin"))
      .select(col("bin"), col("n"), col("pos"),
        round(col("pos") / col("n"), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy("bin")
  }

  /** Brier score — mean squared error of the probability forecast
    * against the 0/1 outcome; the single-number calibration companion.
    * `n` counts the scored rows (count of the error term, like
    * [[forecastErrors]]), so a NULL score can't desynchronize the
    * reported sample size from the mean's denominator.
    */
  def brierScore(preds: DataFrame, labelCol: String,
                 scoreCol: String): DataFrame = {
    val e = col(scoreCol).cast("double") - col(labelCol).cast("int")
      .cast("double")
    preds.agg(count(e).as("n"), round(avg(e * e), 6).as("brier"))
  }

  /** Forecast error metrics — MAE and RMSE per group, the reference's
    * forecast scoring (`/root/reference/dags/forecasting_dag.py:207-214`:
    * `mean_absolute_error` + `sqrt(mean_squared_error)` on the held-out
    * series). Rows with a NULL prediction (e.g. the warm-up of a lag/
    * rolling forecaster) are excluded, matching how the reference aligns
    * forecast and test frames before scoring. One map-side-combined
    * groupBy; metrics round at 6 after the final arithmetic.
    */
  def forecastErrors(preds: DataFrame, actualCol: String, predCol: String,
                     groupCols: Seq[String]): DataFrame = {
    val e = col(actualCol).cast("double") - col(predCol).cast("double")
    val g = if (groupCols.isEmpty) preds.groupBy()
            else preds.groupBy(groupCols.map(col): _*)
    val out = g.agg(count(e).as("n_obs"),
      round(avg(abs(e)), 6).as("mae"),
      round(sqrt(avg(e * e)), 6).as("rmse"))
    if (groupCols.isEmpty) out else out.orderBy(groupCols.map(col): _*)
  }

  /** Scale-free forecast errors — the dashboard companions to
    * [[forecastErrors]]' absolute MAE/RMSE (which cannot be compared
    * across series of different magnitude): MAPE (mean |e|/|y| over
    * non-zero actuals — the business-facing percentage, with its known
    * small-denominator blowup left visible, not hidden), SMAPE (the
    * symmetric 2|e|/(|y|+|ŷ|) M-competition variant, bounded in
    * [0, 2]), and BIAS (mean signed error — systematic over/under
    * forecasting that every absolute metric hides; published with the
    * `+ 0.0` negative-zero guard since an unbiased forecast rounds to
    * ±0). Same one-pass conditional-average shape and round-6 contract
    * as [[forecastErrors]].
    */
  def scaledForecastErrors(preds: DataFrame, actualCol: String,
                           predCol: String,
                           groupCols: Seq[String]): DataFrame = {
    val y = col(actualCol).cast("double")
    val f = col(predCol).cast("double")
    val e = y - f
    val g = if (groupCols.isEmpty) preds.groupBy()
            else preds.groupBy(groupCols.map(col): _*)
    val out = g.agg(count(e).as("n_obs"),
      count(when(y =!= 0.0 && f.isNotNull, lit(1))).as("n_mape"),
      round(avg(when(y =!= 0.0, abs(e) / abs(y))), 6).as("mape"),
      round(avg(when(abs(y) + abs(f) > 0.0,
        lit(2.0) * abs(e) / (abs(y) + abs(f)))), 6).as("smape"),
      (round(avg(e), 6) + lit(0.0)).as("bias"))
    if (groupCols.isEmpty) out else out.orderBy(groupCols.map(col): _*)
  }

  /** Forecast skill score — "is this model WORTH anything over the
    * baseline?": per key, MAE of the candidate and of a baseline
    * forecast over the SAME rows (only rows where both exist — an
    * unfair window is the classic skill-score bug), and
    * skill = 1 − MAE_model/MAE_baseline (positive = beats the
    * baseline; the M-competition convention with the naive no-change
    * forecast as baseline gives MASE-style comparability across
    * series). Every absolute error metric looks respectable in
    * isolation; skill is the number that says whether the model earns
    * its complexity.
    *
    * One conditional-average pass (the [[forecastErrors]] shape);
    * skill publishes round-6 with the `+ 0.0` guard (a model exactly
    * matching its baseline rounds to ±0) and degrades to NULL when
    * the baseline MAE is zero (a perfect baseline admits no skill).
    */
  def forecastSkill(preds: DataFrame, actualCol: String, predCol: String,
                    baselineCol: String,
                    groupCols: Seq[String]): DataFrame = {
    val y = col(actualCol).cast("double")
    val f = col(predCol).cast("double")
    val b = col(baselineCol).cast("double")
    val both = preds
      .where(y.isNotNull && f.isNotNull && b.isNotNull)
    val g = if (groupCols.isEmpty) both.groupBy()
            else both.groupBy(groupCols.map(col): _*)
    val out = g.agg(count(lit(1)).as("n_obs"),
        round(avg(abs(y - f)), 6).as("mae_model"),
        round(avg(abs(y - b)), 6).as("mae_baseline"))
      .withColumn("skill",
        round(when(col("mae_baseline") > 0.0,
          lit(1.0) - col("mae_model") / col("mae_baseline")), 6) +
          lit(0.0))
    if (groupCols.isEmpty) out else out.orderBy(groupCols.map(col): _*)
  }

  /** Closed-form AR(p) fit + h-step forecast — the engine-native core of
    * the reference's forecasting DAG (`/root/reference/dags/
    * forecasting_dag.py:142-218`: statsmodels fit on the daily series,
    * then an h-step forecast scored by MAE/RMSE). SARIMAX's iterative MLE
    * stays a documented boundary (SURVEY §7.3.5); the AR(p) Yule-Walker
    * fit is NOT iterative — it is a closed form over distributed
    * autocovariance sums, i.e. native query-engine work, and its h-step
    * forecast is a fixed-depth scalar recursion. With [[forecastErrors]]
    * this closes the fit → forecast → score loop in-engine.
    *
    * Method: the series is STANDARDIZED first (same conditioning argument
    * as [[fitLinear3]]'s note: O(1) centered magnitudes keep every moment
    * reproducible across engines at the 6-decimal comparison grain), then
    * biased autocovariances c_k = Σ z_t·z_{t-k} / n (statsmodels `acovf`
    * convention) feed the p×p Toeplitz Yule-Walker system, solved closed
    * form (Cramer for p ≤ 3). Forecasts recurse in z-space off the last p
    * observations — observed anchors come straight from the SAME lagged
    * frame's final row — and are mapped back as m + sd·ẑ.
    *
    * Scale shape: like [[graft.ops.Windows.adfTest]], the input contract
    * is a PRE-AGGREGATED series (days, not raw rows), so the single-task
    * lag window is calendar-bounded; the fit itself is one scalar
    * aggregate (p+1 sums), and every cross join broadcasts a 1-row
    * scalar frame. Nothing here touches the driver.
    *
    * Output: one row per forecast step — step, n_obs, a1..ap, z_next
    * (standardized forecast, round 6), forecast (original units, round 2;
    * `+ 0.0` canonicalizes IEEE −0.0 on every rounded column).
    */
  def arForecast(series: DataFrame, ordCol: String, valCol: String,
                 p: Int = 3, horizon: Int = 5): DataFrame = {
    require(p >= 1 && p <= 3,
      "arForecast solves Yule-Walker closed form for p in 1..3")
    require(horizon >= 1, "arForecast needs horizon >= 1")
    val w = Window.orderBy(col(ordCol))
    val stats = series.agg(
      avg(col(valCol).cast("double")).as("__m"),
      stddev_samp(col(valCol).cast("double")).as("__sd"))
    val z = series.crossJoin(broadcast(stats))
      .select(col(ordCol),
        ((col(valCol).cast("double") - col("__m")) / col("__sd")).as("__z"))
    val lagged = (1 to p).foldLeft(z) { (df, k) =>
      df.withColumn(s"__z$k", lag(col("__z"), k).over(w))
    }
    // one scalar pass: n and the p+1 autocovariance sums (sum() skips the
    // NULL warm-up rows of each lag in both engines)
    val sumCols = count(lit(1)).cast("double").as("n") +:
      sum(col("__z") * col("__z")).as("s0") +:
      (1 to p).map(k => sum(col("__z") * col(s"__z$k")).as(s"s$k"))
    val sums = lagged.agg(sumCols.head, sumCols.tail: _*)
    val cv = sums.select(col("n") +:
      (0 to p).map(k => (col(s"s$k") / col("n")).as(s"c$k")): _*)
    // Yule-Walker: Toeplitz[c0..c_{p-1}] · a = [c1..cp], Cramer-solved.
    // Expression text is kept IDENTICAL to the oracle SQL so both engines
    // evaluate the same float operation order.
    val coef: DataFrame = p match {
      case 1 => cv.select(col("n"), (col("c1") / col("c0")).as("a1"))
      case 2 => cv
        .withColumn("det", col("c0") * col("c0") - col("c1") * col("c1"))
        .select(col("n"),
          ((col("c1") * col("c0") - col("c1") * col("c2")) / col("det"))
            .as("a1"),
          ((col("c0") * col("c2") - col("c1") * col("c1")) / col("det"))
            .as("a2"))
      case 3 =>
        val (c0, c1, c2, c3) = (col("c0"), col("c1"), col("c2"), col("c3"))
        cv.withColumn("det",
            c0 * (c0 * c0 - c1 * c1) - c1 * (c1 * c0 - c1 * c2)
              + c2 * (c1 * c1 - c0 * c2))
          .select(col("n"),
            ((c1 * (c0 * c0 - c1 * c1) - c1 * (c2 * c0 - c1 * c3)
              + c2 * (c2 * c1 - c0 * c3)) / col("det")).as("a1"),
            ((c0 * (c2 * c0 - c1 * c3) - c1 * (c1 * c0 - c1 * c2)
              + c2 * (c1 * c3 - c2 * c2)) / col("det")).as("a2"),
            ((c0 * (c0 * c3 - c2 * c1) - c1 * (c1 * c3 - c2 * c2)
              + c1 * (c1 * c1 - c0 * c2)) / col("det")).as("a3"))
    }
    // anchors: the lagged frame's last row already holds z_n, z_{n-1}, …
    val maxOrd = lagged.agg(max(col(ordCol)).as("__mx"))
    val anchors = lagged.crossJoin(broadcast(maxOrd))
      .filter(col(ordCol) === col("__mx"))
      .select((col("__z").as("zl1")) +:
        (2 to p).map(k => col(s"__z${k - 1}").as(s"zl$k")): _*)
    val one = coef.crossJoin(broadcast(anchors)).crossJoin(broadcast(stats))
    // fixed-depth forecast recursion, unrolled into plan columns; values
    // feed forward UNROUNDED (rounding only at output avoids boundary
    // ties compounding through the recursion)
    val as = (1 to p).map(k => col(s"a$k"))
    var hist: List[Column] = (1 to p).map(k => col(s"zl$k")).toList
    val fs = (1 to horizon).map { _ =>
      val f = (0 until p).map(i => as(i) * hist(i)).reduce(_ + _)
      hist = f :: hist
      f
    }
    one
      .select((col("n").cast("long").as("n_obs") +:
        (1 to p).map(k => (round(col(s"a$k"), 6) + lit(0.0)).as(s"a$k"))) ++
        Seq(col("__m"), col("__sd"), array(fs: _*).as("__f")): _*)
      .select(col("*"), posexplode(col("__f")).as(Seq("__i", "__fz")))
      .select(((col("__i") + 1).cast("int").as("step") +:
        col("n_obs") +: (1 to p).map(k => col(s"a$k"))) ++ Seq(
        (round(col("__fz"), 6) + lit(0.0)).as("z_next"),
        (round(col("__m") + col("__sd") * col("__fz"), 2) + lit(0.0))
          .as("forecast")): _*)
      .orderBy("step")
  }

  /** Seasonal-differenced AR forecast — SARIMA-lite, the
    * (p,0,0)×(0,1,0)_m slice of the reference's SARIMAX stage
    * (`/root/reference/dags/forecasting_dag.py:142-153`) that stays
    * closed-form: seasonally difference at `period` (D = 1), fit AR(p)
    * on the differenced series by the SAME Yule-Walker closed form as
    * [[arForecast]], forecast the differences, and integrate back
    * against the OBSERVED last season — ŷ_{T+h} = y_{T+h−m} + ẑ_{T+h}.
    * `horizon <= period` keeps every integration anchor an observed
    * value (beyond one season the anchors become forecasts and the
    * model is genuinely iterative); the full seasonal MLE —
    * (p,d,q)(P,D,Q) with an optimizer — remains the documented boundary
    * (SURVEY §7.3.5, now "full MLE only").
    *
    * Scale shape: the [[arForecast]] contract — a PRE-AGGREGATED series
    * (calendar-bounded lag windows), one scalar-aggregate fit, 1-row
    * broadcast crosses, and a period-bounded anchor frame joined on the
    * forecast step.
    *
    * Output: one row per step — step, n_obs (differenced-series
    * length), a1..ap, z_next (standardized differenced forecast),
    * sdiff_next (differenced units, round 2), forecast (original units:
    * anchor + sdiff_next, round 2).
    */
  def sarimaLite(series: DataFrame, ordCol: String, valCol: String,
                 period: Int, p: Int = 2, horizon: Int = 7): DataFrame = {
    require(period >= 1, "sarimaLite needs period >= 1")
    require(horizon >= 1 && horizon <= period,
      "sarimaLite integrates against OBSERVED anchors: horizon <= period")
    val w = Window.orderBy(col(ordCol))
    val diff = series
      .withColumn("__prev", lag(col(valCol).cast("double"), period).over(w))
      .filter(col("__prev").isNotNull)
      .select(col(ordCol),
        (col(valCol).cast("double") - col("__prev")).as("sdiff"))
    val ar = arForecast(diff, ordCol, "sdiff", p, horizon)
      .withColumnRenamed("forecast", "sdiff_next")
    // anchor for step h is the observed y at reverse index period−h+1
    val wDesc = Window.orderBy(col(ordCol).desc)
    val anch = series
      .withColumn("__ri", row_number().over(wDesc))
      .filter(col("__ri") <= period)
      .select((lit(period) - col("__ri") + 1).cast("int").as("step"),
        col(valCol).cast("double").as("__anchor"))
    ar.join(broadcast(anch), Seq("step"))
      .select((col("step") +: col("n_obs") +:
        (1 to p).map(k => col(s"a$k"))) ++ Seq(
        col("z_next"), col("sdiff_next"),
        (round(col("__anchor") + col("sdiff_next"), 2) + lit(0.0))
          .as("forecast")): _*)
      .orderBy("step")
  }

  /** Logistic-regression fit (intercept + one regressor) via FIXED-ROUND
    * Newton-Raphson over distributed moment sums — the query-engine
    * analogue of the reference's iterative classifier training
    * (`/root/reference/dags/classification_dag.py:103-113`; full XGBoost
    * stays a documented boundary, SURVEY §7.3.5). Unlike [[fitLinear3]]
    * there is no closed form, but a DETERMINISTIC iteration count makes
    * the fit replayable by any engine: each round is ONE codegen'd
    * scalar aggregate (5 gradient/Hessian sums) and a 2×2 Newton solve
    * on the 1-row result — no driver collect, the running β rides in a
    * broadcast 1-row frame. From β=0 on non-separated data, 4 rounds
    * land within ~1e-9 of the MLE (Newton is quadratically convergent);
    * the oracle replays the IDENTICAL rounds, so the output hash-checks.
    *
    * Scale shape: `rounds` scans of the (y, z) projection, each a
    * map-side-combined global aggregate, plus one final scan for the
    * log-loss. Pass a STANDARDIZED regressor (same conditioning contract
    * as [[fitLinear3]]).
    *
    * Output: one row — n, b0, b1 (round 6), logloss (mean negative
    * log-likelihood at the fitted β, round 6).
    */
  def fitLogistic1(df: DataFrame, xCol: String, yCol: String,
                   rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      "fitLogistic1 runs a fixed 1..8 Newton rounds")
    val data = df.select(col(xCol).cast("double").as("__z"),
      col(yCol).cast("double").as("__y"))
    var beta = data.sparkSession.range(1)
      .select(lit(0.0).as("b0"), lit(0.0).as("b1"))
    for (r <- 1 to rounds) {
      // expression text mirrors the oracle SQL so both engines evaluate
      // the same float operation order
      val it = data.crossJoin(broadcast(beta))
        .withColumn("__p", lit(1.0) /
          (lit(1.0) + exp(lit(0.0) - (col("b0") + col("b1") * col("__z")))))
      val sums = it.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("__y") - col("__p")).as("g0"),
        sum((col("__y") - col("__p")) * col("__z")).as("g1"),
        sum(col("__p") * (lit(1.0) - col("__p"))).as("h00"),
        sum(col("__p") * (lit(1.0) - col("__p")) * col("__z")).as("h01"),
        sum(col("__p") * (lit(1.0) - col("__p")) * col("__z") * col("__z"))
          .as("h11"))
      beta = sums.crossJoin(broadcast(beta.drop("n"))).select(
        col("n"),
        (col("b0") + (col("h11") * col("g0") - col("h01") * col("g1"))
          / (col("h00") * col("h11") - col("h01") * col("h01"))).as("b0"),
        (col("b1") + (col("h00") * col("g1") - col("h01") * col("g0"))
          / (col("h00") * col("h11") - col("h01") * col("h01"))).as("b1"))
    }
    // one last scan: mean negative log-likelihood at the fitted β
    data.crossJoin(broadcast(beta))
      .withColumn("__p", lit(1.0) /
        (lit(1.0) + exp(lit(0.0) - (col("b0") + col("b1") * col("__z")))))
      .agg(
        first(col("n")).cast("long").as("n"),
        (round(first(col("b0")), 6) + lit(0.0)).as("b0"),
        (round(first(col("b1")), 6) + lit(0.0)).as("b1"),
        (round(lit(0.0) - avg(col("__y") * log(col("__p")) +
          (lit(1.0) - col("__y")) * log(lit(1.0) - col("__p"))), 6) +
          lit(0.0)).as("logloss"))
  }

  /** Logistic-regression fit (intercept + TWO regressors) via the same
    * fixed-round Newton-Raphson discipline as [[fitLogistic1]]: each
    * round is ONE codegen'd scalar aggregate (3 gradient + 6 Hessian
    * moment sums) and an exact 3×3 adjugate solve on the 1-row result —
    * the closed-form cofactor inverse a SQL oracle replays term by term,
    * no matrix library, no driver collect; the running β rides in a
    * broadcast 1-row frame. Pass STANDARDIZED regressors (the
    * [[fitLinear3]] conditioning contract) so the Hessian stays
    * well-scaled and 4 rounds land within float noise of the MLE on
    * non-separated data.
    *
    * Scale shape: `rounds` + 1 scans of the (y, z1, z2) projection, each
    * a map-side-combined global aggregate. Output: one row — n, b0, b1,
    * b2 (round 6), logloss (round 6).
    */
  def fitLogistic2(df: DataFrame, x1Col: String, x2Col: String,
                   yCol: String, rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      "fitLogistic2 runs a fixed 1..8 Newton rounds")
    val data = df.select(col(x1Col).cast("double").as("__z1"),
      col(x2Col).cast("double").as("__z2"),
      col(yCol).cast("double").as("__y"))
    var beta = data.sparkSession.range(1)
      .select(lit(0.0).as("b0"), lit(0.0).as("b1"), lit(0.0).as("b2"))
    for (r <- 1 to rounds) {
      // expression text mirrors the oracle SQL so both engines evaluate
      // the same float operation order
      val it = data.crossJoin(broadcast(beta))
        .withColumn("__p", lit(1.0) / (lit(1.0) +
          exp(lit(0.0) - (col("b0") + col("b1") * col("__z1") +
            col("b2") * col("__z2")))))
      val wgt = col("__p") * (lit(1.0) - col("__p"))
      val sums = it.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("__y") - col("__p")).as("g0"),
        sum((col("__y") - col("__p")) * col("__z1")).as("g1"),
        sum((col("__y") - col("__p")) * col("__z2")).as("g2"),
        sum(wgt).as("h00"),
        sum(wgt * col("__z1")).as("h01"),
        sum(wgt * col("__z2")).as("h02"),
        sum(wgt * col("__z1") * col("__z1")).as("h11"),
        sum(wgt * col("__z1") * col("__z2")).as("h12"),
        sum(wgt * col("__z2") * col("__z2")).as("h22"))
      // symmetric 3×3 adjugate solve, cofactor order pinned for the
      // oracle: c00..c22 then det then the three dot products
      val withCof = sums
        .withColumn("c00", col("h11") * col("h22") - col("h12") * col("h12"))
        .withColumn("c01", col("h01") * col("h22") - col("h12") * col("h02"))
        .withColumn("c02", col("h01") * col("h12") - col("h11") * col("h02"))
        .withColumn("c11", col("h00") * col("h22") - col("h02") * col("h02"))
        .withColumn("c12", col("h00") * col("h12") - col("h01") * col("h02"))
        .withColumn("c22", col("h00") * col("h11") - col("h01") * col("h01"))
        .withColumn("det", col("h00") * col("c00") -
          col("h01") * col("c01") + col("h02") * col("c02"))
      beta = withCof.crossJoin(broadcast(beta.drop("n"))).select(
        col("n"),
        (col("b0") + (col("c00") * col("g0") - col("c01") * col("g1") +
          col("c02") * col("g2")) / col("det")).as("b0"),
        (col("b1") + (col("c11") * col("g1") - col("c01") * col("g0") -
          col("c12") * col("g2")) / col("det")).as("b1"),
        (col("b2") + (col("c02") * col("g0") - col("c12") * col("g1") +
          col("c22") * col("g2")) / col("det")).as("b2"))
    }
    data.crossJoin(broadcast(beta))
      .withColumn("__p", lit(1.0) / (lit(1.0) +
        exp(lit(0.0) - (col("b0") + col("b1") * col("__z1") +
          col("b2") * col("__z2")))))
      .agg(
        first(col("n")).cast("long").as("n"),
        (round(first(col("b0")), 6) + lit(0.0)).as("b0"),
        (round(first(col("b1")), 6) + lit(0.0)).as("b1"),
        (round(first(col("b2")), 6) + lit(0.0)).as("b2"),
        (round(lit(0.0) - avg(col("__y") * log(col("__p")) +
          (lit(1.0) - col("__y")) * log(lit(1.0) - col("__p"))), 6) +
          lit(0.0)).as("logloss"))
  }

  /** Gradient-boosted depth-1 regression stumps, squared loss, fixed
    * `rounds` — the query-engine core of the reference's XGBoost stage
    * (classification_dag.py:103-113's tree booster, reduced to the
    * closed-form depth-1 case a SQL oracle can replay; deeper trees and
    * shrinkage schedules stay a documented boundary). Each round:
    *
    *  1. residuals against the running prediction F (F0 = global mean);
    *  2. candidate splits = every distinct value of every feature,
    *     scored by variance reduction sl²/cl + sr²/cr — ONE scan
    *     (features explode to (feature, value) pairs, hash-agg partial
    *     sums, then running-sum windows over the per-feature value
    *     frames, each bounded by that feature's distinct count);
    *  3. the best (gain, then feature, then value — total order) split's
    *     leaf means, QUANTIZED to the dyadic 2^-10 grid, join F via a
    *     1-row broadcast.
    *
    * Exactness discipline (what makes a float argmax cross-engine-safe):
    * with integer-valued y, dyadic leaf values, and a dyadic `lr`, every
    * residual is an exact multiple of 2^-20 small enough that all sums
    * — partial, shuffled, windowed, in ANY order — are exact, so both
    * engines score every candidate identically and the argmax cannot
    * flip on a last-bit tie. Callers wanting the gate-grade guarantee
    * feed a rounded y; the operator itself takes y as-is.
    *
    * Scale shape: per round, one scan + one (feature, value)-bounded
    * shuffle for the split search; the prediction update is a broadcast
    * CASE expression, never a per-row join or materialized state. Output:
    * one row per round (boost_round, feature, threshold, leaf_left,
    * leaf_right, gain), ordered by round.
    *
    * NULL contract (missing-goes-right): rows whose value in a feature
    * is NULL are excluded from that feature's split search (they bill to
    * neither side's gain, and a NULL can never be a threshold); at
    * prediction time — both the in-fit residual update and
    * [[scoreStumps]] — `featVal <= threshold` is NULL for them, so they
    * fall to the right leaf. This is the XGBoost default-direction
    * convention with the default fixed to "right".
    */
  def boostedStumps(df: DataFrame, yCol: String, xCols: Seq[String],
                    rounds: Int = 3, lr: Double = 0.5): DataFrame =
    fitStumps(df, yCol, xCols, rounds, lr)._1

  /** Fit as [[boostedStumps]], then score the SAME frame with the fitted
    * internal (unquantized-by-rounding) model in one final scan and
    * report the regression summary: n, RMSE, MAE, R² — the booster's
    * fit → score → evaluate loop closed in-engine, the
    * `fitLinear3`/`fitLogistic1` discipline.
    */
  def boostedStumpsEval(df: DataFrame, yCol: String, xCols: Seq[String],
                        rounds: Int = 3, lr: Double = 0.5): DataFrame = {
    val (_, cur, fExpr) = fitStumps(df, yCol, xCols, rounds, lr)
    regressionEval(cur, fExpr)
  }

  /** n, RMSE, MAE and R² of the fitted predictions `fExpr` against `__y`
    * over a booster's final frame, in one scan.
    */
  private def regressionEval(cur: DataFrame, fExpr: Column): DataFrame = {
    val scored = cur.withColumn("__r", col("__y") - fExpr)
    val ybar = scored.agg(avg(col("__y")).as("__ybar"))
    scored.crossJoin(broadcast(ybar))
      .agg(count(lit(1)).as("n"),
        round(sqrt(avg(col("__r") * col("__r"))), 6).as("rmse"),
        round(avg(abs(col("__r"))), 6).as("mae"),
        round(lit(1.0) - sum(col("__r") * col("__r")) /
          sum((col("__y") - col("__ybar")) * (col("__y") - col("__ybar"))),
          6).as("r2"))
  }

  /** Score any frame with a PUBLISHED stump model ([[boostedStumps]]'s
    * output frame, reloaded from its parameter table or not): the
    * rounds-bounded model rows are pulled to the driver AT PLAN TIME
    * (≤ rounds + 1 rows of five scalars — the same payload the retired
    * HOF spelling broadcast as one array; moving it into the plan is
    * the round-15 kernel discipline applied with literals instead of a
    * kernel, because the model is KNOWN when the plan is built) and the
    * prediction unrolls into a static left-to-right additive fold of
    * codegen'd CASE terms — base literal, then each round's lr-scaled
    * stump over the printf-rounded leaves. Whole-stage codegen keeps
    * the whole projection fused, where the HOF's ArrayAggregate lambda
    * was CodegenFallback (interpreted per row, per round).
    *
    * Bit contract: identical fold order and literal doubles as
    * [[scoreStumpsHof]] (collected doubles re-embed as exact literals),
    * so predictions are bit-for-bit the HOF's — spec-gated in
    * PipelineOpsSpec. The missing-goes-right NULL contract carries: a
    * NULL feature value (or a model feature not in xCols, or a NULL
    * threshold) makes `v <= t` NULL and the row takes the right leaf.
    * With depth-1 stumps the prediction domain is ≤ 2^rounds + 1
    * distinct values. Adds a `prediction` column; inputs pass through.
    */
  def scoreStumps(df: DataFrame, xCols: Seq[String], model: DataFrame,
                  lr: Double = 0.5): DataFrame = {
    require(xCols.nonEmpty, "scoreStumps needs the feature columns")
    // plan-time pull of the parameter table: bounded by construction
    // (one row per boost round + the base row), never corpus data
    val rows = model.select(col("boost_round").cast("int").as("r"),
        col("feature"), col("threshold").cast("double"),
        col("leaf_left").cast("double"), col("leaf_right").cast("double"))
      .collect()
      .sortBy(m => (m.getInt(0),
        if (m.isNullAt(1)) "" else m.getString(1)))
    def dl(m: org.apache.spark.sql.Row, i: Int): Column =
      if (m.isNullAt(i)) lit(null).cast("double") else lit(m.getDouble(i))
    def fv(f: String): Column =
      if (f != null && xCols.contains(f)) col(f)
      else lit(null).cast("double")
    val pred = rows.foldLeft(lit(0.0)) { (acc, m) =>
      val f = if (m.isNullAt(1)) null else m.getString(1)
      if (f == "__base") acc + dl(m, 3)
      else acc + lit(lr) * when(fv(f) <= dl(m, 2), dl(m, 3))
        .otherwise(dl(m, 4))
    }
    df.withColumn("prediction", pred)
  }

  /** The retired HOF spelling of [[scoreStumps]] — one broadcast
    * round-ordered array folded by an ArrayAggregate lambda
    * (CodegenFallback: interpreted per row). Kept private as the bit-
    * identity contract the compiled scorer is A/B-gated against.
    */
  private[graft] def scoreStumpsHof(df: DataFrame, xCols: Seq[String],
                                    model: DataFrame,
                                    lr: Double = 0.5): DataFrame = {
    require(xCols.nonEmpty, "scoreStumps needs the feature columns")
    val mlist = model.agg(array_sort(collect_list(struct(
      col("boost_round").as("r"), col("feature"), col("threshold"),
      col("leaf_left"), col("leaf_right")))).as("__m"))
    val dispatch = xCols.map(c => s"WHEN m.feature = '$c' THEN `$c`")
      .mkString("CASE ", " ", " END")
    df.crossJoin(broadcast(mlist))
      .withColumn("prediction", expr(
        s"""aggregate(__m, cast(0.0 as double), (acc, m) -> CASE
           |  WHEN m.feature = '__base' THEN acc + m.leaf_left
           |  ELSE acc + $lr * (CASE WHEN ($dispatch) <= m.threshold
           |       THEN m.leaf_left ELSE m.leaf_right END) END)"""
          .stripMargin))
      .drop("__m")
  }

  /** The boosters' start: the (__y, features) projection, checkpointed
    * once because every round re-scans it (the XGBoost-on-Spark "cache
    * the feature matrix before boosting" discipline), crossed with F0,
    * the dyadic-floored mean of y, as `__f0`; and the checkpointed
    * round-0 model row carrying F0, with `node` columns after
    * boost_round. The base row makes the published model
    * SELF-CONTAINED: a scorer needs F0, and shipping it inside the model
    * frame is the parameter-table discipline (printf-rounded like the
    * leaves).
    */
  private def boostStart(df: DataFrame, yCol: String, xCols: Seq[String],
                         node: Seq[Column]): (DataFrame, DataFrame) = {
    val data = df.select(
      (col(yCol).cast("double").as("__y") +:
        xCols.map(c => col(c).cast("double").as(c))): _*)
      .localCheckpoint()
    val f0 = data.agg(
      (floor(avg(col("__y")) * 1024) / 1024).as("__f0"))
    val base = f0.select((lit(0).as("boost_round") +: node) ++ Seq(
      lit("__base").as("feature"),
      lit(null).cast("double").as("threshold"),
      round(col("__f0"), 6).as("leaf_left"),
      round(col("__f0"), 6).as("leaf_right"),
      lit(null).cast("double").as("gain")): _*)
      .localCheckpoint()
    (data.crossJoin(broadcast(f0)), base)
  }

  /** Every candidate split over the residual `__r`, per `keys` and
    * feature: each non-NULL feature value `v` with the running residual
    * sum and count up to it (sl, cl) and the totals (st, ct), the top
    * value (empty right side) dropped. One explode carries every
    * feature's (value, residual) pairs through one scan. NULL feature
    * values never enter the search: unfiltered, NULLS-FIRST ordering
    * would bill them to the left of every candidate (and a NULL could
    * even be picked as the threshold) while the prediction CASE routes
    * them right — the missing-goes-right contract keeps fit and score
    * consistent instead.
    */
  private def splitSearch(resid: DataFrame, xCols: Seq[String],
                          keys: Seq[String]): DataFrame = {
    val cands = resid.select(keys.map(col) ++ Seq(col("__r"),
        explode(array(xCols.map(c =>
          struct(lit(c).as("feature"), col(c).as("v"))): _*)).as("p")): _*)
      .filter(col("p.v").isNotNull)
      .groupBy(keys.map(col) ++ Seq(col("p.feature").as("feature"),
        col("p.v").as("v")): _*)
      .agg(sum(col("__r")).as("s"), count(lit(1)).as("c"))
    val byFeature = (keys :+ "feature").map(col)
    val wRun = Window.partitionBy(byFeature: _*).orderBy("v")
    val wAll = Window.partitionBy(byFeature: _*)
    cands
      .withColumn("sl", sum(col("s")).over(wRun))
      .withColumn("cl", sum(col("c")).over(wRun))
      .withColumn("st", sum(col("s")).over(wAll))
      .withColumn("ct", sum(col("c")).over(wAll))
      .filter(col("cl") < col("ct"))
  }

  /** Squared-loss gain of a [[splitSearch]] candidate. */
  private val splitGain: Column =
    col("sl") * col("sl") / col("cl") +
      (col("st") - col("sl")) * (col("st") - col("sl")) /
        (col("ct") - col("cl"))

  /** Dyadic-floored residual means left and right of a candidate. */
  private val leftMean: Column = floor(col("sl") / col("cl") * 1024) / 1024
  private val rightMean: Column =
    floor((col("st") - col("sl")) / (col("ct") - col("cl")) * 1024) / 1024

  private def fitStumps(df: DataFrame, yCol: String, xCols: Seq[String],
                        rounds: Int, lr: Double)
      : (DataFrame, DataFrame, Column) = {
    require(rounds >= 1 && rounds <= 16,
      s"boostedStumps runs a fixed 1..16 rounds, got $rounds")
    require(lr > 0 && lr <= 1 && lr * 1024 == math.rint(lr * 1024),
      s"lr must be a dyadic multiple of 2^-10 in (0, 1], got $lr")
    require(xCols.nonEmpty, "boostedStumps needs at least one feature")
    val (start, base) = boostStart(df, yCol, xCols, Seq.empty)
    var cur = start
    var fExpr: Column = col("__f0")
    val model = scala.collection.mutable.ArrayBuffer(base)
    for (r <- 1 to rounds) {
      val resid = cur.withColumn("__r", col("__y") - fExpr)
      val best = splitSearch(resid, xCols, Seq.empty)
        .select(col("feature"), col("v"), leftMean.as("ml"),
          rightMean.as("mr"), splitGain.as("gain"))
        .orderBy(col("gain").desc, col("feature"), col("v"))
        .limit(1)
        .select(col("feature").as(s"__ft$r"), col("v").as(s"__t$r"),
          col("ml").as(s"__l$r"), col("mr").as(s"__m$r"),
          col("gain").as(s"__g$r"))
        .localCheckpoint()
      model += best.select(lit(r).as("boost_round"),
        col(s"__ft$r").as("feature"), col(s"__t$r").as("threshold"),
        round(col(s"__l$r"), 6).as("leaf_left"),
        round(col(s"__m$r"), 6).as("leaf_right"),
        round(col(s"__g$r"), 4).as("gain"))
      cur = cur.crossJoin(broadcast(
        best.select(col(s"__ft$r"), col(s"__t$r"), col(s"__l$r"),
          col(s"__m$r"))))
      // dispatch the chosen feature column, then the stump CASE
      val featVal = xCols.tail.foldLeft(
        when(col(s"__ft$r") === xCols.head, col(xCols.head))) {
        (acc, c) => acc.when(col(s"__ft$r") === c, col(c))
      }
      fExpr = fExpr + lit(lr) *
        when(featVal <= col(s"__t$r"), col(s"__l$r"))
          .otherwise(col(s"__m$r"))
    }
    (model.reduceLeft(_.unionByName(_)).orderBy("boost_round"), cur, fExpr)
  }

  /** The F25 round trip as one queryable surface: fit a standardizer-style
    * model (per-group mean/std), encode, decode — emitting both the wire
    * payload and the decoded parameters so an oracle can verify the
    * payload bytes AND that decode∘encode is the printf-rounded identity.
    */
  def transportRoundTrip(df: DataFrame, keyCol: String,
                         valCol: String): DataFrame = {
    val params = df.groupBy(col(keyCol).as("param"))
      .agg(avg(col(valCol)).as("mu"), stddev_samp(col(valCol)).as("sigma"))
    val encoded = toTransport(params, "param", "mu", "sigma")
    fromTransport(encoded, "payload_b64")
      .select(col("param"), col("payload_b64"), col("mu"), col("sigma"))
      .orderBy("param")
  }

  /** Gradient-boosted DEPTH-2 regression trees, squared loss, fixed
    * `rounds` — [[boostedStumps]] taken one level deeper (the remaining
    * closable slice of classification_dag.py:103-113's tree booster:
    * interactions between two features, which no stump ensemble can
    * express). Each round:
    *
    *  1. the ROOT split is the depth-1 argmax over the current
    *     residuals (same one-scan candidate search as the stumps);
    *  2. the root partitions the frame into L / R branches
    *     (missing-goes-right, the stump NULL contract), and the SAME
    *     distinct-value-bounded split search runs once more, now keyed
    *     by (branch, feature, value) — one extra scan per round, never
    *     one per branch;
    *  3. each branch's best split yields two dyadic-quantized leaf
    *     means (4 leaves total); a branch with NO valid split (all its
    *     values identical) collapses to a single leaf at the branch's
    *     quantized residual mean.
    *
    * Exactness: identical to the stumps — integer-ish y, dyadic leaves
    * and lr keep every residual an exact dyadic, sums exact in any
    * order, argmaxes under total (gain DESC, feature, value) orders;
    * the branch search is conditioned on the root argmax, which both
    * engines resolve identically, so the whole tree is
    * cross-engine-deterministic.
    *
    * Scale shape per round: two scans (root candidates, branch
    * candidates), each one explode + (≤2·features·values)-bounded
    * hash-agg + windows over per-(branch, feature) value frames, plus a
    * 2-row branch-mean agg; the prediction update is a 1-row broadcast
    * CASE — no per-row joins, no driver state.
    *
    * Output: the published model frame — round 0 carries the base
    * prediction ('base' node), each round r carries a 'root' row
    * (feature, threshold, gain; no leaves) and 'left'/'right' rows
    * (branch split feature/threshold — NULL when the branch collapsed —
    * leaf_left, leaf_right, gain), ordered by (boost_round, node).
    */
  def boostedTrees2(df: DataFrame, yCol: String, xCols: Seq[String],
                    rounds: Int = 3, lr: Double = 0.5): DataFrame =
    fitTrees2(df, yCol, xCols, rounds, lr)._1

  /** Fit as [[boostedTrees2]], then report n/RMSE/MAE/R² of the fitted
    * predictions in one final scan — the eval twin, and the frame the
    * residual-decay property (depth-2 fits at least as tightly as the
    * stumps, round for round) is asserted over.
    */
  def boostedTrees2Eval(df: DataFrame, yCol: String, xCols: Seq[String],
                        rounds: Int = 3, lr: Double = 0.5): DataFrame = {
    val (_, cur, fExpr) = fitTrees2(df, yCol, xCols, rounds, lr)
    regressionEval(cur, fExpr)
  }

  /** Score any frame with a PUBLISHED depth-2 model
    * ([[boostedTrees2]]'s output frame, reloaded from its parameter
    * table or not): the per-round root/left/right rows pivot into one
    * row per round, are pulled to the driver AT PLAN TIME (≤ rounds
    * rows of 12 scalars — the [[scoreStumps]] compiled discipline one
    * level deeper; the HOF spelling broadcast the identical payload as
    * one array), and the prediction unrolls into a static left-to-right
    * additive fold of codegen'd two-level CASE terms over the
    * printf-rounded leaves (the F25 transport discipline). The
    * missing-goes-right NULL contract carries over: a NULL dispatched
    * value (or a collapsed branch's NULL split) falls to the right leaf
    * at every level. Bit contract: identical fold order and literal
    * doubles as [[scoreTrees2Hof]] — spec-gated in PipelineOpsSpec.
    */
  def scoreTrees2(df: DataFrame, xCols: Seq[String], model: DataFrame,
                  lr: Double = 0.5): DataFrame = {
    require(xCols.nonEmpty, "scoreTrees2 needs the feature columns")
    // plan-time pull of the round-pivoted parameter table: bounded by
    // construction (one row per boost round), never corpus data
    val rows = trees2ByRound(model, col("boost_round").cast("int"))
      .collect().sortBy(_.getInt(0))
    def dl(m: org.apache.spark.sql.Row, i: Int): Column =
      if (m.isNullAt(i)) lit(null).cast("double") else lit(m.getDouble(i))
    def fv(m: org.apache.spark.sql.Row, i: Int): Column = {
      val f = if (m.isNullAt(i)) null else m.getString(i)
      if (f != null && xCols.contains(f)) col(f)
      else lit(null).cast("double")
    }
    val pred = rows.foldLeft(lit(0.0)) { (acc, m) =>
      if (!m.isNullAt(1)) acc + dl(m, 1) // the base row
      else acc + lit(lr) * when(fv(m, 2) <= dl(m, 3),
          when(fv(m, 4) <= dl(m, 5), dl(m, 6)).otherwise(dl(m, 7)))
        .otherwise(
          when(fv(m, 8) <= dl(m, 9), dl(m, 10)).otherwise(dl(m, 11)))
    }
    df.withColumn("prediction", pred)
  }

  /** A published depth-2 model pivoted to one row per round `r`: base,
    * root (ft, t), left (lf, lt, lml, lmr) and right (rf, rt, rml, rmr).
    */
  private def trees2ByRound(model: DataFrame, roundCol: Column): DataFrame = {
    def pick(node: String, c: String) =
      first(when(col("node") === node, col(c)), ignoreNulls = true)
    model.groupBy(roundCol.as("r")).agg(
      pick("base", "leaf_left").as("base"),
      pick("root", "feature").as("ft"), pick("root", "threshold").as("t"),
      pick("left", "feature").as("lf"), pick("left", "threshold").as("lt"),
      pick("left", "leaf_left").as("lml"),
      pick("left", "leaf_right").as("lmr"),
      pick("right", "feature").as("rf"),
      pick("right", "threshold").as("rt"),
      pick("right", "leaf_left").as("rml"),
      pick("right", "leaf_right").as("rmr"))
  }

  /** The retired HOF spelling of [[scoreTrees2]] — one broadcast
    * round-ordered array folded by an ArrayAggregate lambda
    * (CodegenFallback: interpreted per row). Kept private as the bit-
    * identity contract the compiled scorer is A/B-gated against.
    */
  private[graft] def scoreTrees2Hof(df: DataFrame, xCols: Seq[String],
                                    model: DataFrame,
                                    lr: Double = 0.5): DataFrame = {
    require(xCols.nonEmpty, "scoreTrees2 needs the feature columns")
    val byRound = trees2ByRound(model, col("boost_round"))
    val mlist = byRound.agg(array_sort(collect_list(struct(
      col("r"), col("base"), col("ft"), col("t"), col("lf"), col("lt"),
      col("lml"), col("lmr"), col("rf"), col("rt"), col("rml"),
      col("rmr")))).as("__m"))
    def disp(f: String): String =
      xCols.map(c => s"WHEN m.$f = '$c' THEN `$c`")
        .mkString("CASE ", " ", " END")
    df.crossJoin(broadcast(mlist))
      .withColumn("prediction", expr(
        s"""aggregate(__m, cast(0.0 as double), (acc, m) -> CASE
           |  WHEN m.base IS NOT NULL THEN acc + m.base
           |  ELSE acc + $lr * (CASE WHEN (${disp("ft")}) <= m.t
           |    THEN (CASE WHEN (${disp("lf")}) <= m.lt
           |          THEN m.lml ELSE m.lmr END)
           |    ELSE (CASE WHEN (${disp("rf")}) <= m.rt
           |          THEN m.rml ELSE m.rmr END) END) END)"""
          .stripMargin))
      .drop("__m")
  }

  /** Partial-dependence profile of a PUBLISHED stump model along one
    * feature — the model-interpretation classic (Friedman '01, sklearn
    * `partial_dependence`): for each grid value g, the mean prediction
    * over the corpus with `feature` FORCED to g and every other column
    * kept at its observed value. Flat segments and jump points read the
    * fitted thresholds directly; [[featureImportance]] says WHICH
    * feature matters, this says HOW the model uses it.
    *
    * Float discipline: [[scoreStumps]] predictions live in a ≤
    * 2^rounds + 1 value domain of printf-rounded leaf folds, so the
    * mean is computed from EXACT (grid, prediction) cell counts with
    * the weighted fold in PINNED prediction order — a free-order
    * average over corpus-scale addends could drift past round-6.
    *
    * Scale shape: one |grid|-bounded explode (corpus × grid rows, the
    * broadcast-model scoring fold per row), one (grid, prediction)
    * map-side-combined groupBy, then GRID×PREDICTIONS-bounded window
    * arithmetic.
    */
  def partialDependence(df: DataFrame, xCols: Seq[String],
                        model: DataFrame, feature: String,
                        grid: Seq[Double],
                        lr: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(xCols.contains(feature),
      s"partialDependence feature $feature must be one of $xCols")
    require(grid.nonEmpty && grid == grid.sorted &&
      grid.distinct.size == grid.size,
      "partialDependence needs a strictly increasing grid")
    val forced = df
      .withColumn(feature, explode(array(grid.map(lit): _*)))
    val cell = scoreStumps(forced, xCols, model, lr)
      .groupBy(col(feature).as("grid_value"), col("prediction"))
      .agg(count(lit(1)).as("__c"))
    val wPin = Window.partitionBy("grid_value").orderBy("prediction")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pick = Window.partitionBy("grid_value").orderBy("prediction")
    cell
      .withColumn("__n", sum(col("__c")).over(wPin))
      .withColumn("__s",
        sum(col("prediction") * col("__c").cast("double")).over(wPin))
      .withColumn("__r", row_number().over(pick))
      .where(col("__r") === 1)
      .select(lit(feature).as("feature"), col("grid_value"),
        col("__n").as("n"),
        round(col("__s") / col("__n").cast("double"), 6)
          .as("mean_prediction"))
      .orderBy("grid_value")
  }

  /** Permutation feature importance (Breiman '01) for a PUBLISHED stump
    * model — the model-agnostic sibling of [[featureImportance]]'s gain
    * shares: permute one feature's column (breaking its relationship
    * with y while preserving its marginal distribution), re-score, and
    * report how much RMSE degrades. A feature the model splits on but
    * that carries no real signal shows near-zero permutation
    * importance — the overfitting read gain shares cannot give.
    *
    * The permutation is deterministic and SCALE-HONEST: rows hash into
    * `buckets` md5 buckets (the caller supplies the row-hash column —
    * build it from integer-rendered key columns so both engines hash
    * identical strings), and within each bucket the feature values
    * ROTATE by one position in hash order. A within-bucket rotation is
    * a valid global permutation, and the shuffle is bucket-keyed — no
    * global rank, no single-partition funnel (buckets of n/|buckets|
    * rows each; at 100 TB raise `buckets` to keep them executor-sized).
    *
    * Float discipline: scoring uses the published round-6 leaves (the
    * [[scoreStumps]] transport rule); RMSEs publish round-6 (the
    * boostedStumpsEval contract); the importance difference of two
    * round-6 values carries the `+ 0.0` negative-zero guard (a useless
    * feature's importance CAN round to -0.0).
    */
  def permutationImportance(df: DataFrame, yCol: String,
                            xCols: Seq[String], model: DataFrame,
                            hashCol: String, buckets: Int = 256,
                            lr: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(xCols.nonEmpty, "permutationImportance needs features")
    require(buckets >= 2 && buckets <= (1 << 20),
      "permutationImportance needs 2 <= buckets <= 2^20")
    val keyed = df
      .select((yCol +: xCols).map(col) :+ col(hashCol).as("__hh"): _*)
      .withColumn("__b",
        pmod(conv(substring(col("__hh"), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__b").orderBy("__hh")))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("__b")))
      .localCheckpoint()
    val rmseC =
      round(sqrt(avg((col(yCol) - col("prediction")) *
        (col(yCol) - col("prediction")))), 6)
    val base = broadcast(scoreStumps(keyed, xCols, model, lr)
      .agg(rmseC.as("rmse_base")))
    xCols.map { f =>
      val donor = keyed.select(col("__b").as("__b2"),
        col("__rn").as("__prn"), col(f).as("__fv"))
      val permed = keyed
        .withColumn("__want", col("__rn") % col("__cnt") + 1)
        .drop(f)
        .join(donor, col("__b") === col("__b2") &&
          col("__want") === col("__prn"))
        .withColumnRenamed("__fv", f)
      scoreStumps(permed, xCols, model, lr)
        .agg(rmseC.as("rmse_perm"))
        .select(lit(f).as("feature"), col("rmse_perm"))
    }.reduceLeft(_.unionByName(_))
      .crossJoin(base)
      .select(col("feature"), col("rmse_base"), col("rmse_perm"),
        (round(col("rmse_perm") - col("rmse_base"), 6) + lit(0.0))
          .as("importance"))
      .orderBy("feature")
  }

  /** Gain-based feature importance from a PUBLISHED tree/stump model
    * frame ([[boostedStumps]]'s or [[boostedTrees2]]'s output — any
    * frame with (feature, gain) rows): per feature, the number of
    * splits it won and its share of the total gain — XGBoost's
    * `feature_importances_(importance_type='gain')` as a query over
    * the parameter table, no refit. Base rows (NULL gain / '__base')
    * and collapsed branches (NULL feature) are excluded; shares are
    * ratios of the same rounded gains both engines already agree on.
    */
  def featureImportance(model: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val splits = model.filter(col("feature").isNotNull &&
      col("feature") =!= "__base" && col("gain").isNotNull)
    // gains are huge (sl²/cl at corpus scale) and the model frame is
    // tiny — fold them in PINNED (round, node) order so the float sums
    // are bit-identical cross-engine (the meanPoolEmbeddings norm
    // discipline); a free-order aggregate could differ by more than
    // the round-4 publishing grain at 1e14 magnitudes
    // stump models have no node column; (boost_round[, node]) is a
    // unique total order in either schema
    val ordCols =
      if (model.columns.contains("node"))
        Seq(col("boost_round"), col("node"))
      else Seq(col("boost_round"))
    val wf = Window.partitionBy("feature")
      .orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perFeat = splits
      .withColumn("__g", sum(col("gain")).over(wf))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_splits"), max(col("__g")).as("__g"))
    val wTot = Window.orderBy("feature")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perFeat
      .withColumn("__tg", sum(col("__g")).over(wTot))
      .select(col("feature"), col("n_splits"),
        round(col("__g"), 4).as("total_gain"),
        // a degenerate model can publish all-zero rounded gains (every
        // split's gain below the round-4 grain) — NULL share, not a
        // divide-by-zero
        round(when(col("__tg") =!= 0.0, col("__g") / col("__tg")), 6)
          .as("gain_share"))
      .orderBy(col("feature"))
  }

  /** Graded ranking-quality evaluation — NDCG@k / MRR / precision@k /
    * recall@k per query over a ranked candidate list, the standard search
    * and retrieval scorecard (the reference's evaluation surface stops at
    * classification metrics; a corpus with `q_keyword_search` /
    * `q_cosine_topk` / `q_hybrid_search` retrieval gates needs the eval
    * side too). `ranked` carries one row per (query, candidate) with a
    * 1-based rank and an integer relevance grade; `gradeCounts` is the
    * per-query availability frame (query, rel, avail) saying how many
    * corpus items of each positive grade EXIST for that query — that is
    * what makes the ideal DCG the true corpus-wide ideal (the top-k list
    * alone cannot know what a perfect ranker could have retrieved).
    *
    * Float discipline: each gain term (2^rel − 1)/(ln(rank+1)/ln 2) is a
    * composition of correctly-rounded primitives on integer inputs, so
    * the terms agree bit-for-bit cross-engine; the per-query DCG/IDCG
    * sums fold in PINNED rank order (ROWS UNBOUNDED both ways — the
    * featureImportance discipline) so accumulation order cannot differ.
    * Queries with no positive-grade corpus items report NULL idcg/ndcg
    * (0/0 is undefined, not 1.0); queries with no positive hit in the
    * top-k report rr = 0.
    *
    * Scale notes: one hash-partitioned window per query for the folds,
    * one groupBy per query for the scalar metrics — shuffle width is the
    * query count, never the corpus; the ideal list is generated from the
    * grade-availability frame (queries × grades rows), so no second
    * corpus pass happens here. Output: one row per query, ordered.
    */
  def rankingQuality(ranked: DataFrame, queryCol: String, rankCol: String,
                     relCol: String, gradeCounts: DataFrame,
                     k: Int): DataFrame = {
    require(k >= 1, s"rankingQuality needs k >= 1, got $k")
    val base = ranked.select(col(queryCol).as("__q"),
        col(rankCol).cast("bigint").as("__rk"),
        col(relCol).cast("int").as("__rel"))
      .filter(col("__rk") <= k)
    // gain = (2^rel − 1)/log2(rank+1), spelled ln(x)/ln(2) both engines
    def gain(rel: Column, pos: Column): Column =
      (call_function("shiftleft", lit(1L), rel) - lit(1L)).cast("double") /
        (log(pos.cast("double") + 1) / log(lit(2.0)))
    val wPin = Window.partitionBy("__q").orderBy("__rk")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perQ = base
      .withColumn("__dcg", sum(gain(col("__rel"), col("__rk"))).over(wPin))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("n_eval"), max(col("__dcg")).as("__dcg"),
        count(when(col("__rel") >= 1, lit(1))).as("hits"),
        min(when(col("__rel") >= 1, col("__rk"))).as("__minrk"))
    // ideal list: grades stacked best-first from the availability frame —
    // positions lo+1..min(hi, k) of the ideal ranking carry grade `rel`
    val wCum = Window.partitionBy("__q").orderBy(col("__rel").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val availPos = gradeCounts.select(col(queryCol).as("__q"),
        col("rel").cast("int").as("__rel"),
        col("avail").cast("bigint").as("__avail"))
      .filter(col("__rel") >= 1 && col("__avail") > 0)
      .withColumn("__hi", sum(col("__avail")).over(wCum))
      .withColumn("__lo", col("__hi") - col("__avail"))
    val wIdeal = Window.partitionBy("__q").orderBy("__p")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ideal = availPos.filter(col("__lo") < k)
      .select(col("__q"), col("__rel"),
        explode(sequence(col("__lo") + 1,
          least(col("__hi"), lit(k.toLong)))).as("__p"))
      .withColumn("__idcg", sum(gain(col("__rel"), col("__p"))).over(wIdeal))
      .groupBy(col("__q")).agg(max(col("__idcg")).as("__idcg"))
    val nRel = gradeCounts.select(col(queryCol).as("__q"),
        col("rel").cast("int").as("__rel"),
        col("avail").cast("bigint").as("__avail"))
      .filter(col("__rel") >= 1)
      .groupBy(col("__q")).agg(sum(col("__avail")).as("n_rel"))
    perQ.join(ideal, Seq("__q"), "left").join(nRel, Seq("__q"), "left")
      .select(col("__q").as(queryCol), col("n_eval"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"), col("hits"),
        round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        round(col("__dcg") / col("__idcg"), 6).as("ndcg"),
        round(coalesce(lit(1.0) / col("__minrk"), lit(0.0)), 6).as("rr"),
        round(col("hits") / lit(k.toDouble), 6).as("precision_at_k"),
        round(when(col("n_rel") > 0, col("hits") / col("n_rel")), 6)
          .as("recall_at_k"))
      .orderBy(queryCol)
  }

  private def fitTrees2(df: DataFrame, yCol: String, xCols: Seq[String],
                        rounds: Int, lr: Double)
      : (DataFrame, DataFrame, Column) = {
    require(rounds >= 1 && rounds <= 8,
      s"boostedTrees2 runs a fixed 1..8 rounds, got $rounds")
    require(lr > 0 && lr <= 1 && lr * 1024 == math.rint(lr * 1024),
      s"lr must be a dyadic multiple of 2^-10 in (0, 1], got $lr")
    require(xCols.nonEmpty, "boostedTrees2 needs at least one feature")
    val (start, base) =
      boostStart(df, yCol, xCols, Seq(lit("base").as("node")))
    var cur = start
    var fExpr: Column = col("__f0")
    // dispatch the feature named by ftCol to its column value
    def dispatch(ftCol: Column): Column =
      xCols.tail.foldLeft(when(ftCol === xCols.head, col(xCols.head))) {
        (acc, c) => acc.when(ftCol === c, col(c))
      }
    val model = scala.collection.mutable.ArrayBuffer(base)
    for (r <- 1 to rounds) {
      val resid = cur.withColumn("__r", col("__y") - fExpr)
      // ROOT: the depth-1 candidate scan (NULLs sit out — stump contract)
      val best = splitSearch(resid, xCols, Seq.empty)
        .withColumn("gain", splitGain)
        .orderBy(col("gain").desc, col("feature"), col("v"))
        .limit(1)
        .select(col("feature").as(s"__ft$r"), col("v").as(s"__t$r"),
          col("gain").as(s"__g$r"))
        .localCheckpoint()
      // BRANCH: the same scan keyed by (branch, feature, value)
      val sided = resid.crossJoin(broadcast(best))
        .withColumn("__side",
          when(dispatch(col(s"__ft$r")) <= col(s"__t$r"), lit("L"))
            .otherwise(lit("R")))
      val wSide = Window.partitionBy("__side")
        .orderBy(col("gain").desc, col("feature"), col("v"))
      val bBest = splitSearch(sided, xCols, Seq("__side"))
        .withColumn("gain", splitGain)
        .withColumn("__rk", row_number().over(wSide))
        .filter(col("__rk") === 1)
        .select(col("__side"), col("feature").as("bf"), col("v").as("bt"),
          leftMean.as("ml"), rightMean.as("mr"), col("gain").as("bg"))
      // collapsed-branch fallback: the branch's own quantized mean
      val sideMeans = sided.groupBy(col("__side"))
        .agg((floor(sum(col("__r")) / count(lit(1)) * 1024) / 1024)
          .as("bm"))
      val sideInfo = sideMeans.join(bBest, Seq("__side"), "left_outer")
        .select(col("__side"), col("bf"), col("bt"),
          coalesce(col("ml"), col("bm")).as("ml"),
          coalesce(col("mr"), col("bm")).as("mr"), col("bg"))
        .localCheckpoint()
      def side(tag: String, pre: String): DataFrame =
        sideInfo.filter(col("__side") === tag)
          .select(col("bf").as(s"__${pre}f$r"),
            col("bt").as(s"__${pre}t$r"),
            col("ml").as(s"__${pre}ml$r"),
            col("mr").as(s"__${pre}mr$r"),
            col("bg").as(s"__${pre}g$r"))
      val params = best
        .crossJoin(broadcast(side("L", "l")))
        .crossJoin(broadcast(side("R", "r")))
        .localCheckpoint()
      model += params.select(lit(r).as("boost_round"),
        lit("root").as("node"), col(s"__ft$r").as("feature"),
        col(s"__t$r").as("threshold"),
        lit(null).cast("double").as("leaf_left"),
        lit(null).cast("double").as("leaf_right"),
        round(col(s"__g$r"), 4).as("gain"))
      model += params.select(lit(r).as("boost_round"),
        lit("left").as("node"), col(s"__lf$r").as("feature"),
        col(s"__lt$r").as("threshold"),
        round(col(s"__lml$r"), 6).as("leaf_left"),
        round(col(s"__lmr$r"), 6).as("leaf_right"),
        round(col(s"__lg$r"), 4).as("gain"))
      model += params.select(lit(r).as("boost_round"),
        lit("right").as("node"), col(s"__rf$r").as("feature"),
        col(s"__rt$r").as("threshold"),
        round(col(s"__rml$r"), 6).as("leaf_left"),
        round(col(s"__rmr$r"), 6).as("leaf_right"),
        round(col(s"__rg$r"), 4).as("gain"))
      cur = cur.crossJoin(broadcast(params.drop(s"__g$r", s"__lg$r",
        s"__rg$r")))
      // collapsed branch: feature is NULL, the <= is NULL, rows take
      // the right leaf = the branch mean — exactly the fallback value
      val leafL = when(dispatch(col(s"__lf$r")) <= col(s"__lt$r"),
        col(s"__lml$r")).otherwise(col(s"__lmr$r"))
      val leafR = when(dispatch(col(s"__rf$r")) <= col(s"__rt$r"),
        col(s"__rml$r")).otherwise(col(s"__rmr$r"))
      fExpr = fExpr + lit(lr) *
        when(dispatch(col(s"__ft$r")) <= col(s"__t$r"), leafL)
          .otherwise(leafR)
    }
    (model.reduceLeft(_.unionByName(_)).orderBy("boost_round", "node"),
      cur, fExpr)
  }

  /** Rank-2 alternating-least-squares matrix factorization over an
    * interaction table — the recommender-training primitive
    * (Koren/Bell/Volinsky '09), in its DISTRIBUTED shape: each half-
    * round is one factor-keyed equi-join plus one opposite-keyed
    * groupBy of 5 moment sums, then a closed-form ridge 2×2 solve per
    * row. Item factors init from seeded md5 on the dyadic lattice; the
    * report is per-round training RMSE (the residual-decay receipt)
    * plus the matrix dimensions.
    *
    * Determinism (the [[boostedStumps]] dyadic discipline, extended):
    * ratings are integer-valued sums, factors live on the 2^-gridBits
    * lattice, so every moment sum is EXACT in any accumulation order;
    * the solve is exact arithmetic up to one correctly-rounded division
    * whose result is immediately floored back onto the lattice (×2^k
    * is an exponent shift, exact) — the whole iteration is bit-identical
    * cross-engine with no pinned-order folds needed. Squared residuals
    * floor onto a 2^-20 grid before the RMSE sum for the same reason.
    * λ is dyadic (default 1/8) and keeps the solve positive-definite.
    *
    * Scale shape: textbook distributed ALS — interactions shuffle once
    * by item and once by user per round; factor frames are narrow
    * (key, f1, f2) and localCheckpoint per half-round truncates the
    * iterative lineage. No driver-side matrix state.
    */
  def alsFactorize(inter0: DataFrame, userCol: String, itemCol: String,
                   ratingCol: String, rounds: Int = 2,
                   lambda: Double = 0.125, gridBits: Int = 12,
                   seed: String = "als"): DataFrame = {
    val (inter, _, _, rmses) = alsCore(inter0, userCol, itemCol,
      ratingCol, rounds, lambda, gridBits, seed)
    val counts = inter.agg(count(lit(1)).as("n_interactions"),
      countDistinct(col("u")).as("n_users"),
      countDistinct(col("i")).as("n_items"))
    rmses.foldLeft(counts)((acc, r) => acc.crossJoin(r))
  }

  /** The serve path of [[alsFactorize]]: top-k UNSEEN items for a
    * deterministic md5-sampled user panel, scored p·q from the fitted
    * factors. Scores are exact sums of two lattice products (no float
    * ambiguity); ranking tie-breaks on item id; seen items drop via a
    * left_anti on the interaction table.
    *
    * Scale shape: the panel is nUsers rows broadcast against the item-
    * factor frame — candidate fan-out is nUsers×items, bounded by the
    * panel size, never users×items.
    */
  def alsRecommend(inter0: DataFrame, userCol: String, itemCol: String,
                   ratingCol: String, nUsers: Int = 5, k: Int = 3,
                   rounds: Int = 2, lambda: Double = 0.125,
                   gridBits: Int = 12, seed: String = "als")
      : DataFrame = {
    requireServeArgs(nUsers, k)
    val (inter, p, q, _) = alsCore(inter0, userCol, itemCol, ratingCol,
      rounds, lambda, gridBits, seed)
    alsRecommendCore(inter, p, q, nUsers, k, seed)
  }

  /** The serve-path argument bounds, checked before anything runs: the
    * fit behind [[alsRecommend]] submits eager checkpoint jobs.
    */
  private def requireServeArgs(nUsers: Int, k: Int): Unit =
    require(nUsers >= 1 && nUsers <= 64 && k >= 1 && k <= 50,
      "alsRecommend needs 1 <= nUsers <= 64 and 1 <= k <= 50")

  /** The serving tail of [[alsRecommend]] given the fitted factor
    * frames — the consume half of the fit → serve seam: `p` (u, f1,
    * f2) and `q` (i, f1, f2) may come straight from [[alsCore]] or
    * from a published parquet parameter table (factors live on the
    * dyadic lattice, so the round trip is bit-exact); `inter` is the
    * deduped (u, i) interaction table the left_anti seen-filter
    * needs — the interaction store a serving layer keeps regardless.
    */
  private def alsRecommendCore(inter: DataFrame, p: DataFrame,
                               q: DataFrame, nUsers: Int, k: Int,
                               seed: String): DataFrame = {
    val panel = broadcast(p
      .withColumn("__h", Dedup.h60(concat(lit(s"${seed}u_"),
        col("u").cast("string"))))
      .orderBy(col("__h"), col("u")).limit(nUsers)
      .select(col("u"), col("f1").as("__pa"), col("f2").as("__pb")))
    val cand = panel
      .crossJoin(q.select(col("i"), col("f1").as("__qa"),
        col("f2").as("__qb")))
      .join(inter.select(col("u"), col("i")), Seq("u", "i"),
        "left_anti")
      .withColumn("score",
        col("__pa") * col("__qa") + col("__pb") * col("__qb"))
    val wRank = Window.partitionBy("u")
      .orderBy(col("score").desc, col("i"))
    cand.withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select(col("u"), col("rank"), col("i"),
        round(col("score"), 6).as("score"))
      .orderBy("u", "rank")
  }

  /** [[alsRecommend]] served from PUBLISHED factor frames (the
    * [[alsFactors]] output, parquet round-tripped — lattice doubles,
    * bit-exact): no refit, the production serve path. The seen-item
    * left_anti reads the distinct (user, item) pairs of the raw
    * interaction table — one groupBy-free pass, no iterative chain.
    */
  def alsRecommendFromFactors(inter0: DataFrame, userFactors: DataFrame,
                              itemFactors: DataFrame, userCol: String,
                              itemCol: String, nUsers: Int = 5,
                              k: Int = 3, seed: String = "als")
      : DataFrame = {
    requireServeArgs(nUsers, k)
    val inter = inter0
      .select(col(userCol).as("u"), col(itemCol).as("i")).distinct()
    alsRecommendCore(inter,
      userFactors.select(col(userCol).as("u"), col("f1"), col("f2")),
      itemFactors.select(col(itemCol).as("i"), col("f1"), col("f2")),
      nUsers, k, seed)
  }

  /** Publishable factor frames from [[alsFactorize]]'s chain —
    * (userCol, f1, f2) and (itemCol, f1, f2). Persist these (parquet)
    * and serve scores with [[scoreAlsPairs]] / the streaming twin.
    */
  def alsFactors(inter0: DataFrame, userCol: String, itemCol: String,
                 ratingCol: String, rounds: Int = 2,
                 lambda: Double = 0.125, gridBits: Int = 12,
                 seed: String = "als"): (DataFrame, DataFrame) = {
    val (_, p, q, _) = alsCore(inter0, userCol, itemCol, ratingCol,
      rounds, lambda, gridBits, seed)
    (p.withColumnRenamed("u", userCol),
      q.withColumnRenamed("i", itemCol))
  }

  /** Score (user, item) pairs against published ALS factors — the
    * batch body of the streaming ALS scorer. Pairs missing a factor
    * row (cold user/item) score NULL rather than dropping, so the
    * serving layer SEES its cold-start rate. Factor frames broadcast.
    */
  def scoreAlsPairs(pairs: DataFrame, userCol: String, itemCol: String,
                    userFactors: DataFrame, itemFactors: DataFrame)
      : DataFrame =
    pairs
      .join(broadcast(userFactors.select(col(userCol),
        col("f1").as("__pa"), col("f2").as("__pb"))), Seq(userCol),
        "left")
      .join(broadcast(itemFactors.select(col(itemCol),
        col("f1").as("__qa"), col("f2").as("__qb"))), Seq(itemCol),
        "left")
      .withColumn("score", round(col("__pa") * col("__qa")
        + col("__pb") * col("__qb"), 6))
      .drop("__pa", "__pb", "__qa", "__qb")

  private def alsCore(inter0: DataFrame, userCol: String,
                      itemCol: String, ratingCol: String, rounds: Int,
                      lambda: Double, gridBits: Int, seed: String)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    require(rounds >= 1 && rounds <= 4,
      "alsFactorize runs a fixed 1..4 alternation rounds")
    require(lambda > 0.0, "alsFactorize needs lambda > 0")
    val g = math.pow(2.0, gridBits)
    val inter = inter0
      .groupBy(col(userCol).as("u"), col(itemCol).as("i"))
      .agg(sum(col(ratingCol).cast("double")).as("r"))
      .localCheckpoint()
    def initF(n: Int): Column =
      (Dedup.h60(concat(lit(s"$seed${n}_"), col("i").cast("string")))
        % 4096L).cast("double") / lit(4096.0)
    var q = inter.select(col("i")).distinct()
      .select(col("i"), initF(1).as("f1"), initF(2).as("f2"))
      .localCheckpoint()
    def solve(joined: DataFrame, keyCol: String): DataFrame = {
      val s = joined.groupBy(col(keyCol))
        .agg(sum(col("f1") * col("f1")).as("s11"),
          sum(col("f1") * col("f2")).as("s12"),
          sum(col("f2") * col("f2")).as("s22"),
          sum(col("f1") * col("r")).as("b1"),
          sum(col("f2") * col("r")).as("b2"))
      val det = (col("s11") + lit(lambda)) * (col("s22") + lit(lambda)) -
        col("s12") * col("s12")
      s.select(col(keyCol),
        (floor(((col("s22") + lit(lambda)) * col("b1")
          - col("s12") * col("b2")) / det * lit(g)) / lit(g)).as("f1"),
        (floor(((col("s11") + lit(lambda)) * col("b2")
          - col("s12") * col("b1")) / det * lit(g)) / lit(g)).as("f2"))
    }
    var p: DataFrame = null
    val rmses = (1 to rounds).map { k =>
      p = solve(inter.join(q, "i"), "u").localCheckpoint()
      // the superseded q stays held: the rmse frames read it lazily
      q = solve(inter.join(p, "u"), "i").localCheckpoint()
      val scored = inter
        .join(p.select(col("u"), col("f1").as("__pa"),
          col("f2").as("__pb")), "u")
        .join(q.select(col("i"), col("f1").as("__qa"),
          col("f2").as("__qb")), "i")
        .withColumn("__e", col("r") - (col("__pa") * col("__qa")
          + col("__pb") * col("__qb")))
        .withColumn("__e2",
          floor(col("__e") * col("__e") * lit(1048576.0))
            / lit(1048576.0))
      broadcast(scored.agg(
        round(sqrt(sum(col("__e2")) / count(lit(1)).cast("double")), 6)
          .as(s"rmse_r$k")))
    }
    (inter, p, q, rmses)
  }
}
