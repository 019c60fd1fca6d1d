package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the scaling-proof harness: derives
  * an N× copy of a testdata directory by replicating each fact table with
  * key offsets (replica k shifts every int64 key by k·10¹⁰, preserving all
  * FK relationships within the replica) and PERTURBING the payloads that
  * would otherwise create a pathological 10×-exact-duplicate corpus:
  *
  *  - `documents.text`: replica k ≥ 1 suffixes ~1 in 5 tokens with `~k`
  *    (token chosen by murmur hash, deterministic), so cross-replica
  *    Jaccard falls well below near-dup thresholds — the dedup family
  *    then faces N× the organic duplication structure, not an artificial
  *    every-doc-has-9-twins graph that would inflate candidate pairs
  *    quadratically and make honest scaling measurement impossible.
  *  - `embeddings.embedding`: replica k ≥ 1 adds a deterministic ±0.1
  *    per-dimension jitter keyed on (vec_id, dim, k), breaking exact
  *    vector identity (identical vectors would all share LSH buckets and
  *    explode the cosine-dup pair count ~N² on the replicated corpus).
  *
  * Dimensions (region, nation) copy through unchanged. Timestamps, dates
  * and measure values are untouched, so per-key series shapes and value
  * distributions match the source — each replica contributes the same
  * per-key work, which is exactly the linear-growth input an honest
  * scaling factor needs. No RNG anywhere: same inputs → same bytes.
  *
  * Usage: ScaleGen <srcDir> <destDir> <factor>
  */
object ScaleGen {

  private val Off = 10000000000L // replica key offset, > any source key

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Graft.session(Some(s"local[$cpus]"),
      shufflePartitions = cpus.toInt,
      extraConf = Map("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, src, dest, factor)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dest: String,
               factor: Int): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")

    def shift(df: DataFrame, k: Int, keys: Seq[String]): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Off)))

    def replicate(load: => DataFrame, keys: Seq[String],
                  perturb: (DataFrame, Int) => DataFrame = (d, _) => d)
    : DataFrame =
      (0 until factor).map(k => shift(perturb(load, k), k, keys))
        .reduce(_ unionByName _)

    def t(name: String): DataFrame = graft.Tables.load(spark, src, name)

    write(t("region"), "region")
    write(t("nation"), "nation")
    write(replicate(t("customer"), Seq("c_custkey")), "customer")
    write(replicate(t("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(t("part"), Seq("p_partkey")), "part")
    write(replicate(t("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(t("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(graft.Tables.events(spark, src),
      Seq("event_id", "user_id")), "events")
    write(replicate(t("documents"), Seq("doc_id"), perturbDoc), "documents")
    write(replicate(t("embeddings"), Seq("vec_id"), perturbEmb),
      "embeddings")
  }

  /** Replica k ≥ 1: suffix ~1/5 of tokens (murmur-selected) with ~k and
    * recompute n_chars so the length-derived features stay consistent. */
  private def perturbDoc(df: DataFrame, k: Int): DataFrame =
    if (k == 0) df
    else df
      .withColumn("text", array_join(expr(
        s"""transform(split(text, ' '),
           |  w -> CASE WHEN pmod(hash(w, $k), 5) = 0
           |            THEN concat(w, '~$k') ELSE w END)""".stripMargin),
        " "))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Replica k ≥ 1: deterministic ±0.1 per-dimension jitter keyed on
    * (vec_id, dim, replica). */
  private def perturbEmb(df: DataFrame, k: Int): DataFrame =
    if (k == 0) df
    else df.withColumn("embedding", expr(
      s"""transform(embedding, (x, i) ->
         |  cast(x + (pmod(hash(vec_id, i, $k), 1001) - 500) / 5000.0
         |    as float))""".stripMargin))
}
