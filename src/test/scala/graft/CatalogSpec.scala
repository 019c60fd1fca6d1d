package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

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

  /** `f`'s result and the Spark jobs started while it ran. A marker job
    * in its own group follows `f`: the listener bus delivers in order, so
    * once the marker's start is seen every earlier start was counted.
    */
  private def withJobCount[T](f: => T): (T, Int) = {
    val marker = "catalog-spec-marker"
    val started = new AtomicInteger()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == marker)) markerSeen = true
        else started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the marker job's start never arrived")
      (out, started.get())
    } finally sc.removeSparkListener(listener)
  }

  /** `df` as a single parquet FILE at `path`, replacing what is there. */
  private def writeSingleFile(df: DataFrame, path: Path): Unit = {
    val staged = tempDir("catalog_single")
    df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val parts = Files.list(staged)
    val part = try parts.filter(f =>
      f.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally parts.close()
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
  }

  test("Tables.load: the second load of a table runs no Spark job, with " +
    "an equal schema and a fresh relation") {
    val dir = tempDir("catalog_once")
    spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .write.parquet(dir.resolve("t.parquet").toString)
    val (first, inferJobs) = withJobCount(Tables.load(spark, dir.toString, "t"))
    assert(inferJobs >= 1, "the first load infers the schema with a job")
    val (second, jobs) = withJobCount(Tables.load(spark, dir.toString, "t"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    // only the schema is shared: a self-join resolves as over two reads
    assert(first.queryExecution.analyzed.output.map(_.exprId).intersect(
      second.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(first.join(second, first("k") === second("k")).count() === 5L)
  }

  test("Tables.load: a table rewritten at the same path with another " +
    "schema, as a single file or a Spark-written directory, is re-read") {
    val dir = tempDir("catalog_rewrite")
    val before = spark.range(3).selectExpr("id AS k")
    val after = spark.range(4).selectExpr("CAST(id AS STRING) AS s",
      "id * 2.0 AS x")
    def load(name: String): DataFrame = Tables.load(spark, dir.toString, name)
    def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val file = dir.resolve("file.parquet")
    writeSingleFile(before, file)
    assert(load("file").columns.toSeq === Seq("k"))
    assert(load("file").count() === 3L)
    writeSingleFile(after, file)
    assert(columns(load("file")) === columns(after))
    assert(load("file").count() === 4L)
    val tree = dir.resolve("tree.parquet").toString
    before.write.parquet(tree)
    assert(load("tree").columns.toSeq === Seq("k"))
    after.write.mode("overwrite").parquet(tree)
    assert(columns(load("tree")) === columns(after))
    assert(load("tree").orderBy("x").collect().map(_.getString(0)).toSeq ===
      Seq("0", "1", "2", "3"))
  }

  test("Tables.events: a TIMESTAMP_NTZ ts and a nanos LONG ts give the " +
    "same µs TIMESTAMP instants, on the first load and the cached one") {
    // 2020-09-13 12:26:40.123456789 UTC; DuckDB truncates ns to µs
    val micros = 1600000000123456L
    val nanos = micros * 1000L + 789L
    val ntzDir = tempDir("catalog_ntz")
    spark.range(2).select(col("id").as("event_id"),
        timestamp_micros(lit(micros) + col("id")).cast(TimestampNTZType)
          .as("ts"))
      .write.parquet(ntzDir.resolve("events.parquet").toString)
    val longDir = tempDir("catalog_nanos")
    spark.range(2).select(col("id").as("event_id"),
        (lit(nanos) + col("id") * 1000L).as("ts"))
      .write.parquet(longDir.resolve("events.parquet").toString)
    Seq(ntzDir -> TimestampNTZType, longDir -> LongType).foreach {
      case (dir, stored) =>
        Seq("first", "cached").foreach { load =>
          val (ev, jobs) = withJobCount(Tables.events(spark, dir.toString))
          if (load == "cached") assert(jobs === 0, s"$stored: $load load")
          assert(ev.schema("ts").dataType === TimestampType)
          assert(ev.orderBy("event_id").select(unix_micros(col("ts")))
            .collect().map(_.getLong(0)).toSeq === Seq(micros, micros + 1),
            s"$stored, $load load")
        }
        assert(Tables.load(spark, dir.toString, "events").schema("ts")
          .dataType === stored)
    }
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
