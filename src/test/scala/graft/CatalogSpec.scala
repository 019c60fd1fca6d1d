package graft

/** S12: the SQL entry point. The reference bootstraps its warehouse with
  * idempotent DDL (`database/schema.py:119-131` — CREATE SCHEMA/TABLE IF
  * NOT EXISTS); the Spark-native analogue is registering the star schema
  * as temp views so `spark.sql(...)` works against the same tables the
  * function surface reads.
  */
class CatalogSpec extends SparkSpec {

  test("registerAll: every table queryable through spark.sql, idempotent " +
    "re-register (schema.py:119-131)") {
    Tables.registerAll(spark, sfDir)
    // idempotence: second registration is a silent no-op (view replaced
    // with the same definition), like the reference's IF NOT EXISTS DDL
    Tables.registerAll(spark, sfDir)
    Tables.names.foreach { t =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0) > 0,
        s"view $t empty or missing")
    }
    // the events view must carry the converted microsecond timestamp, not
    // the raw nanos long (the TIMESTAMP(NANOS) quirk handled in SQL too)
    assert(spark.sql("SELECT ts FROM events").schema.head.dataType.typeName
      === "timestamp")
  }

  test("Tables.events writes no session conf: the nanos-as-long read " +
    "setting comes from Graft.session") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val before = spark.conf.getAll
    Tables.events(spark, sfDir).schema
    assert(spark.conf.getAll === before)
  }

  // The 31 oracle texts that are pure ANSI (no DuckDB list/regex/lambda
  // dialect) — each must run VERBATIM through spark.sql and reproduce the
  // DataFrame form exactly. This is the S12 depth gate: the SQL entry
  // point is not a toy, it covers the whole relational/window/ETL parity
  // surface. (The remaining oracles use DuckDB-only constructs —
  // string_split lambdas, UNNEST(range), quantile_cont — by design.)
  private val portable = Seq(
    "q_anti_join_new", "q_chrono_split", "q_corr_matrix", "q_dedup_first",
    "q_domain_summary", "q_error_rate", "q_exact_dedup", "q_file_split",
    "q_funnel", "q_funnel_filtered", "q_get_or_create",
    "q_group_derived_date", "q_inlist_threshold", "q_label_encode",
    "q_lag_features", "q_left_funnel_status", "q_left_join_filter",
    "q_log_tail", "q_multi_join_agg", "q_null_counts", "q_proj_filter",
    "q_rolling", "q_rollup", "q_seasonal_decompose", "q_seasonal_even",
    "q_standardize", "q_topk", "q_union_branches", "q_upsert", "q_yoy",
    "q_yoy_pivot")

  test("SQL twins: every ANSI-portable oracle text through spark.sql " +
    "matches its DataFrame form exactly") {
    Tables.registerAll(spark, sfDir)
    portable.foreach { q =>
      val viaSql = spark.sql(SparkEntry.oracleSql(q))
      val viaDf = SparkEntry.queries(q)(spark, sfDir)
      val cols = viaSql.columns.sorted
      assert(cols === viaDf.columns.sorted, s"$q column mismatch")
      val a = viaSql.select(cols.head, cols.tail: _*)
        .collect().map(_.toString).toSeq
      val b = viaDf.select(cols.head, cols.tail: _*)
        .collect().map(_.toString).toSeq
      assert(a === b, s"$q: SQL and DataFrame forms disagree")
    }
  }
}
