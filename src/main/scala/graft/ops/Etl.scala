package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch ETL semantics of the reference pipeline (SURVEY §2.9 C1–C6),
  * re-expressed as set-based distributed jobs:
  *
  *  - validation & routing with FILE granularity — one bad record fails its
  *    whole file (`/root/reference/etl/transformer.py:34-60`: `break` on
  *    first bad entry + raise ⇒ whole file copied to the error zone);
  *  - covid cleaning drops `last_update`/`region` AFTER the null check
  *    (`transformer.py:36-43` checks `entry.values()` first — a null in a
  *    dropped column still corrupts the file) and weather nulls default to
  *    0.0 ONLY for snow/tsun (`transformer.py:45-57`);
  *  - duplicate suppression on load via left_anti on exactly the reference
  *    probe keys (`database/operations.py:175-206`) — the set-based form of
  *    its N+1 per-record `SELECT COUNT(*)` loop (`etl/loader.py:36-57`);
  *  - error-rate circuit breaker at 50% (`transformer.py:124-136`);
  *  - insert-or-update upserts for the lineage logs
  *    (`database/operations.py:131-172`) as anti-join + union rewrites.
  *
  * At 100 TB: validity is a per-row expression (codegen, no shuffle); the
  * file split is one window partitioned by the file key (one shuffle); the
  * load dedup is one shuffle join per batch where the reference paid one
  * round-trip per record.
  */
object Etl {

  // the reference checks entry.values() — EVERY field including date and
  // the soon-dropped columns (transformer.py:36-40, 45-57)
  val covidNullCheckCols: Seq[String] =
    Seq("date", "confirmed", "deaths", "recovered", "last_update", "region")
  val covidDropCols: Seq[String] = Seq("last_update", "region")
  val weatherDefaultCols: Seq[String] = Seq("snow", "tsun")
  val weatherCheckCols: Seq[String] =
    Seq("date", "tavg", "tmin", "tmax", "snow", "tsun")
  val weatherKeyCols: Seq[String] =
    Seq("date", "country", "tavg", "tmin", "tmax")
  val covidKeyCols: Seq[String] =
    Seq("date", "country", "confirmed", "deaths", "recovered")

  /** Row validity for covid records: ANY null field rejects
    * (transformer.py:36-40) — including the soon-to-be-dropped columns.
    */
  def covidBad(cols: Seq[String]): Column =
    cols.map(col(_).isNull).reduce(_ || _)

  /** Row validity for weather records: null allowed only for the
    * default-filled columns (transformer.py:45-57).
    */
  def weatherBad(cols: Seq[String],
                 defaultable: Seq[String] = weatherDefaultCols): Column =
    cols.filterNot(defaultable.contains).map(col(_).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))

  /** File-granularity split (C1): a file is bad iff ANY of its rows is bad.
    * Returns (validRows, erroredRows) — each side still carries every row
    * of its files, mirroring the reference's copy-whole-file semantics.
    * One `max(bad) over (partition by file)` window: each side is one
    * shuffle on the file key, with no aggregate stage to join back.
    */
  def fileLevelSplit(df: DataFrame, fileCol: String,
                     bad: Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val tagged = df.withColumn("__file_bad",
      max(bad.cast("int")).over(Window.partitionBy(col(fileCol))))
    (tagged.filter(col("__file_bad") === 0).drop("__file_bad"),
      tagged.filter(col("__file_bad") === 1).drop("__file_bad"))
  }

  /** Covid transform (C1 happy path): add country, drop last_update/region
    * (transformer.py:31,42-43). Validation must run BEFORE this drop.
    */
  def transformCovid(valid: DataFrame, country: Column): DataFrame =
    valid.withColumn("country", country)
      .drop(covidDropCols: _*)

  /** Weather transform: snow/tsun nulls → 0.0 (transformer.py:46-48),
    * add country.
    */
  def transformWeather(valid: DataFrame, country: Column): DataFrame =
    valid.withColumn("country", country)
      .na.fill(0.0, weatherDefaultCols)

  /** Per-file transform status log (C5/C6 shape): one (file, status) row
    * per file — Processed / Error, like transformer.py:70-74 / :115-121.
    */
  def transformLogs(df: DataFrame, fileCol: String, bad: Column): DataFrame =
    df.groupBy(col(fileCol))
      .agg(when(max(bad.cast("int")) === 1, "Error").otherwise("Processed")
        .as("status"))

  /** Error-rate circuit breaker (C2; transformer.py:124-136): one row with
    * n_files, n_errors, error_pct (2 decimals, like the reference's
    * `:.2f`), and the ≥50% critical flag.
    */
  def errorRate(logs: DataFrame): DataFrame =
    logs.agg(
      count(lit(1)).as("n_files"),
      sum(when(col("status") === "Error", 1).otherwise(0)).as("n_errors"))
      .withColumn("error_pct",
        round(col("n_errors") * 100.0 / col("n_files"), 2))
      .withColumn("critical", col("error_pct") >= 50.0)

  /** Load-time duplicate suppression (C4): keep only incoming rows whose
    * probe key does not already exist in the gold table — plain-equality
    * anti-join, so a NULL in any key column never matches and the row is
    * inserted, exactly like the reference's `col = %s` SQL probe.
    */
  def dedupAgainstExisting(incoming: DataFrame, existing: DataFrame,
                           keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Idempotent batch load (C4+C5): append the deduped rows and emit the
    * per-file Success log (the reference logs Success even for all-skipped
    * files — loader.py:63).
    */
  def loadBatch(incoming: DataFrame, existing: DataFrame, keys: Seq[String],
                fileCol: String): (DataFrame, DataFrame) = {
    val fresh = dedupAgainstExisting(incoming, existing, keys)
    val logs = incoming.select(col(fileCol)).distinct()
      .withColumn("status", lit("Success"))
    (existing.unionByName(fresh.select(existing.columns.map(col): _*)), logs)
  }

  /** Extraction manifest (S1–S4; etl/extractor.py:37-49,126): the
    * country × api × day grid a batch run fetches, with the reference's
    * exact landing path `S3/raw/batch_<ts>/<ISO>_<API>_<yyyy-MM-dd>`
    * (tests/test_extractor.py:101-103). Day range via
    * explode(sequence(...)) — the set-based form of the reference's
    * per-day while loop; at ingest scale each row becomes one fetch task.
    */
  def extractionManifest(countries: DataFrame, isoCol: String,
                         apis: Seq[String], startDate: String,
                         endDate: String, batchTs: Long): DataFrame =
    countries.select(col(isoCol).as("iso"))
      .withColumn("api", explode(array(apis.map(lit): _*)))
      .withColumn("day", explode(expr(
        s"sequence(DATE '$startDate', DATE '$endDate', interval 1 day)")))
      .withColumn("path", concat_ws("/",
        lit("S3"), lit("raw"), concat(lit("batch_"), lit(batchTs)),
        concat_ws("_", col("iso"), upper(col("api")),
          date_format(col("day"), "yyyy-MM-dd"))))
      .select(col("iso"), col("api"), col("day"), col("path"))

  /** Default batch-cursor origin — the reference DAG's fixed fallback when
    * no cursor Variable exists yet (`/root/reference/dags/etl_dag.py:34-38`).
    */
  val cursorDefaultStart = "2021-04-01"

  /** Batch-cursor read (dags/etl_dag.py:32-38 `get_start_date`): the
    * persisted cursor parameter table if one exists, else the fixed
    * default. Engine-native the Airflow Variable is a 1-row parameter
    * table in the model-store shape ([[Models.saveModel]]); reading it is
    * a metadata-sized driver read (exactly what Variable.get is), never a
    * data scan. Existence goes through the Hadoop FileSystem of the path,
    * so the same code works on local disk, HDFS, or an object store.
    */
  def getCursor(spark: org.apache.spark.sql.SparkSession, statePath: String,
                default: String = cursorDefaultStart): String = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Models.loadModel(spark, statePath).select(col("cursor_date"))
        .head.getString(0)
    else default
  }

  /** Window end for a cursor batch (etl_dag.py:40-42 `calculate_end_date`:
    * start + 29 days for the 30-day window).
    */
  def cursorWindowEnd(start: String, days: Int = 30): String = {
    require(days > 1, "a cursor window spans at least 2 days")
    java.time.LocalDate.parse(start).plusDays(days - 1L).toString
  }

  /** Batch-cursor advance (etl_dag.py:44-46,84-86 `set_start_date(end)`):
    * persist the new cursor date. The reference sets the NEXT start to
    * this window's END, so consecutive windows share the boundary day —
    * replicated verbatim, overlap included.
    */
  def setCursor(spark: org.apache.spark.sql.SparkSession, statePath: String,
                date: String): Unit = {
    import spark.implicits._
    Models.saveModel(Seq(date).toDF("cursor_date"), statePath)
  }

  /** One DAG-run equivalent of the incremental-ingest loop: read the
    * cursor and build the window's extraction manifest. Returns
    * (start, end, manifest) — the manifest is lazy; the caller runs it
    * through [[rateLimitSchedule]]/[[runFetch]] and then, ONLY after the
    * window's load succeeds, advances the cursor with
    * `setCursor(spark, statePath, end)`. The cursor is deliberately NOT
    * advanced here: the reference's `set_start_date` task runs last
    * (etl_dag.py:86 — after extract >> transform >> load), and advancing
    * before the work runs would turn any failed run into a silently
    * skipped 30-day window (at-least-once degraded to at-most-once).
    */
  def nextCursorWindow(spark: org.apache.spark.sql.SparkSession,
                       statePath: String, countries: DataFrame,
                       isoCol: String, apis: Seq[String], batchTs: Long,
                       default: String = cursorDefaultStart,
                       days: Int = 30): (String, String, DataFrame) = {
    val start = getCursor(spark, statePath, default)
    val end = cursorWindowEnd(start, days)
    (start, end,
      extractionManifest(countries, isoCol, apis, start, end, batchTs))
  }

  /** The cursor progression unrolled as data — `runs` consecutive windows
    * and their full fetch manifests in ONE lazy plan (audit/replay/backfill
    * planning surface; no state, no driver loop). Window i starts where
    * window i−1 ended (the boundary-day overlap of set_start_date(end)),
    * each spanning `days` days; batch tag = the run index. The schedule
    * frame is `runs` rows — broadcast — and the day explosion happens
    * executor-side, so a year-long backfill plan over every country is
    * still one narrow scan of the countries table.
    */
  def cursorManifests(countries: DataFrame, isoCol: String,
                      apis: Seq[String], defaultStart: String, runs: Int,
                      days: Int = 30): DataFrame = {
    require(runs > 0 && days > 1)
    val spark = countries.sparkSession
    val step = days - 1
    val sched = spark.range(runs.toLong).select(
      col("id").cast("int").as("run"),
      date_add(to_date(lit(defaultStart)),
        (col("id") * step).cast("int")).as("window_start"),
      date_add(to_date(lit(defaultStart)),
        (col("id") * step + step).cast("int")).as("window_end"))
    countries.select(col(isoCol).as("iso"))
      .crossJoin(broadcast(sched))
      .withColumn("api", explode(array(apis.map(lit): _*)))
      .withColumn("day",
        explode(sequence(col("window_start"), col("window_end"))))
      .withColumn("path", concat_ws("/",
        lit("S3"), lit("raw"), concat(lit("batch_"), col("run")),
        concat_ws("_", col("iso"), upper(col("api")),
          date_format(col("day"), "yyyy-MM-dd"))))
      .select(col("run"), col("window_start"), col("window_end"), col("iso"),
        col("api"), col("day"), col("path"))
  }

  /** Rate-limited fetch scheduling (S3). The reference throttles API
    * calls with a client-side sleep between GETs
    * (`/root/reference/etl/extractor.py:125` — `sleep(1)` per request,
    * i.e. 1 req/sec per endpoint); in a declarative engine the same contract
    * becomes PLAN-TIME admission control: every manifest row gets a slot
    * and a scheduled timestamp at `perSecond` requests/sec PER API (the
    * reference's limiter is per-endpoint too). row_number is partitioned
    * by api — ordering is within one endpoint's queue, never a global
    * sort; an executor draining the manifest then honors `scheduled_at`
    * with no coordination, because the schedule is data, not state.
    */
  def rateLimitSchedule(manifest: DataFrame, startTs: String,
                        perSecond: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(
      Window.partitionBy(col("api")).orderBy(col("path")))
    manifest
      .withColumn("slot", ((rn - 1) / perSecond).cast("long"))
      .withColumn("scheduled_at",
        to_timestamp(lit(startTs)) + expr("slot * INTERVAL '1' SECOND"))
  }

  /** End-to-end zoned transform (S5–S7 + C1/C2/C5; the reference's
    * raw → processed / error file dataflow, `etl/transformer.py:62-122`):
    * read the raw JSON zone with an explicit schema, split at FILE
    * granularity on the validity rule, write the cleaned rows to the
    * processed zone and the untouched bad-file rows to the error zone
    * (the reference copies the ORIGINAL file there), and return the
    * per-file audit log plus the error-rate breaker row.
    *
    * One read, two writes of one file-keyed window each — no per-file
    * driver loop; at 100 TB this is the same plan with more input splits.
    */
  def runWeatherTransform(spark: org.apache.spark.sql.SparkSession,
                          rawDir: String, processedDir: String,
                          errorDir: String, schema: String,
                          valueCols: Seq[String],
                          country: String): (DataFrame, DataFrame) =
    runZoneTransform(spark, rawDir, processedDir, errorDir, schema,
      weatherBad(valueCols), transformWeather(_, lit(country)))

  /** Covid twin of [[runWeatherTransform]]: ANY null field (including the
    * soon-dropped last_update/region) fails the file; survivors lose
    * last_update/region and gain the country column
    * (transformer.py:36-43).
    */
  def runCovidTransform(spark: org.apache.spark.sql.SparkSession,
                        rawDir: String, processedDir: String,
                        errorDir: String, schema: String,
                        checkCols: Seq[String],
                        country: String): (DataFrame, DataFrame) =
    runZoneTransform(spark, rawDir, processedDir, errorDir, schema,
      covidBad(checkCols), transformCovid(_, lit(country)))

  /** Shared zone scaffolding: read raw JSON with an explicit schema, split
    * at file granularity on `bad`, write transformed survivors to the
    * processed zone and untouched bad-file rows to the error zone, return
    * (per-file audit log, breaker row). The internal file column never
    * reaches either zone — processed files carry exactly the reference's
    * schema.
    */
  private def runZoneTransform(spark: org.apache.spark.sql.SparkSession,
                               rawDir: String, processedDir: String,
                               errorDir: String, schema: String,
                               bad: Column,
                               transform: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val raw = spark.read.schema(schema).json(rawDir)
      .withColumn("src_file",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
    val (valid, errored) = fileLevelSplit(raw, "src_file", bad)
    transform(valid.drop("src_file"))
      .write.mode("overwrite").json(processedDir)
    errored.drop("src_file")
      .write.mode("overwrite").json(errorDir)
    val logs = transformLogs(raw, "src_file", bad)
    (logs, errorRate(logs))
  }

  /** JDBC sink (S8; database/operations.py:63-108 — the reference's
    * warehouse IS PostgreSQL, every load ends in an INSERT). Partitioned
    * append: each executor task opens its own connection, so write
    * concurrency = the DataFrame's partition count — coalesce upstream (or
    * pass `numPartitions` in options) to respect the warehouse's
    * connection budget at scale.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "append",
                options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).mode(mode).save()

  /** JDBC source (S9; dags/forecasting_dag.py:47-52
    * `pd.read_sql_query("SELECT * FROM ...")`). A bare table read is one
    * connection / one partition; for large tables pass
    * partitionColumn/lowerBound/upperBound/numPartitions in options to get
    * parallel range scans, the JDBC analogue of parquet input splits.
    */
  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
               table: String,
               options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).load()

  /** Idempotent JDBC batch load (S8+C4): the reference's per-record
    * `SELECT COUNT(*)` duplicate probe before each INSERT
    * (etl/loader.py:36-57) as ONE read + anti-join + partitioned append.
    */
  def loadBatchJdbc(incoming: DataFrame, url: String, table: String,
                    keys: Seq[String],
                    options: Map[String, String] = Map.empty): Unit = {
    val existing = readJdbc(incoming.sparkSession, url, table, options)
    writeJdbc(dedupAgainstExisting(incoming, existing, keys),
      url, table, "append", options)
  }

  /** Deterministic fetch payload for the HTTP ingest seam (S1/S2;
    * etl/extractor.py:84-95). In production each manifest row is one HTTP
    * GET executed ON AN EXECUTOR; this sandbox has no network, so the
    * response body is a deterministic md5-derived fake with the reference
    * APIs' record shapes — the plumbing around it (manifest → per-row
    * fetch → landed file) is the real contract.
    */
  def fetchPayload(iso: Column, api: Column, day: Column): Column = {
    val h = Dedup.h60(concat_ws("_", iso, api, day.cast("string")))
    val covid = to_json(array(struct(
      date_format(day, "yyyy-MM-dd").as("date"),
      (h % 100000).as("confirmed"),
      (h % 1000).as("deaths"),
      (h % 50000).as("recovered"),
      concat(date_format(day, "yyyy-MM-dd"), lit(" 04:00:00"))
        .as("last_update"),
      iso.as("region"))))
    val weather = to_json(array(struct(
      date_format(day, "yyyy-MM-dd").as("date"),
      round(h % 400 / 10.0 - 10.0, 1).as("tavg"),
      round(h % 300 / 10.0 - 15.0, 1).as("tmin"),
      round(h % 350 / 10.0 - 5.0, 1).as("tmax"),
      round(h % 80 / 10.0, 1).as("snow"),
      round(h % 60 / 10.0, 1).as("tsun"))))
    when(lower(api) === "covid", covid).otherwise(weather)
  }

  /** Execute a fetch manifest (S1/S2): land one JSON file per manifest row
    * at `rootDir/<path>` (the reference's
    * `S3/raw/batch_<ts>/<ISO>_<API>_<date>` layout from
    * [[extractionManifest]]), returning the per-fetch audit log
    * (path, bytes, status). The fetch+land runs inside `mapPartitions` on
    * executors — the driver never sees a payload; at ingest scale each
    * partition is a batch of independent GETs writing to shared storage.
    */
  def runFetch(manifest: DataFrame, rootDir: String): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    manifest
      .select(col("path"),
        fetchPayload(col("iso"), col("api"), col("day")).as("payload"))
      .as[(String, String)]
      .mapPartitions { it =>
        it.map { case (rel, payload) =>
          val p = java.nio.file.Paths.get(rootDir, rel)
          java.nio.file.Files.createDirectories(p.getParent)
          // encode once: the audit log's `bytes` must be the UTF-8 bytes
          // actually written, not the UTF-16 char count (they diverge for
          // any non-ASCII payload)
          val b = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          java.nio.file.Files.write(p, b)
          (rel, b.length.toLong, "Landed")
        }
      }.toDF("path", "bytes", "status")
  }

  /** get_or_create dimension keys (J7; operations.py:5-22): keep existing
    * (id, key) rows; assign new keys sequential ids above the current max,
    * ordered by key for determinism. Set-based: one max aggregate (tiny,
    * broadcast), one anti-join, one rank over the NEW keys only (small
    * side), not a global sort.
    */
  def getOrCreateIds(existing: DataFrame, incoming: DataFrame,
                     idCol: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L)).as("__mx"))
    val fresh = incoming.select(col(keyCol)).distinct()
      .join(existing.select(col(keyCol)), Seq(keyCol), "left_anti")
      .crossJoin(broadcast(maxId))
      .withColumn(idCol,
        (col("__mx") + dense_rank().over(Window.orderBy(keyCol)))
          .cast(existing.schema(idCol).dataType))
      .select(col(idCol), col(keyCol))
    existing.select(col(idCol), col(keyCol)).unionByName(fresh)
  }

  /** Insert-or-update upsert (C3/C6; operations.py:131-172 backfill/
    * transform-log upserts): rows in `updates` replace same-key rows in
    * `existing`; new keys append. Parquet-friendly MERGE: anti-join +
    * union, one shuffle.
    */
  def upsert(existing: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame =
    existing.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates.select(existing.columns.map(col): _*))

  /** Partition-scoped insert-or-update against a partitioned gold layout
    * ([[graft.Tables.writePartitioned]]) — the C3/C6 upsert at 100 TB. The
    * flat [[upsert]] is a whole-table rewrite; the reference's keyed
    * UPDATE-else-INSERT (operations.py:146-172) touches only the rows'
    * partitions, and so does this: merge the updates into the TOUCHED
    * partitions (partition-pruned read — the `isin` filter lands in the
    * scan's PartitionFilters, so untouched directories are never read),
    * then dynamic-partition-overwrite — only directories present in the
    * merged output are replaced. A 30-day backfill rewrites 30 partitions
    * whatever the table's total size.
    *
    * `partCol` must be one of `keys`: the key then pins each row to its
    * partition, which is what makes partition-scoped merging equal to the
    * global upsert. `updates` runs exactly once, in one eager
    * `localCheckpoint` whose job also collects the touched partition
    * values (a backfill window is days, not data) through an
    * [[org.apache.spark.sql.Observation]] — `updates` may itself read
    * `path`, and the checkpoint pins it before the write replaces files.
    * The merged frame is written as it is planned: the overwrite mode is
    * a per-write option, and a dynamic overwrite stages its files and
    * swaps the partitions only at job commit, after every read of them.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
                        path: String, updates: DataFrame,
                        keys: Seq[String], partCol: String): Unit = {
    require(keys.contains(partCol),
      s"partition column $partCol must be part of the upsert key " +
        s"(${keys.mkString(", ")}) — otherwise a key could move across " +
        "partitions and scoped merging would diverge from the global upsert")
    val touchedParts = org.apache.spark.sql.Observation()
    val upd = updates
      .observe(touchedParts, collect_set(col(partCol)).as("touched"))
      .localCheckpoint()
    try {
      val touched = touchedParts.get("touched")
        .asInstanceOf[scala.collection.Seq[Any]].toSeq
      val existing = spark.read.parquet(path)
      existing.filter(col(partCol).isin(touched: _*))
        .join(upd.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(upd.select(existing.columns.map(col): _*))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
    } finally Par.unpersistCheckpoint(upd)
  }

  /** Additive aggregate state over `valueCol` per `keys`: (n, sum_value,
    * min_value, max_value) — every part algebraic, so states MERGE
    * exactly (see [[mergeAggStates]]). This is the incremental-ETL /
    * materialized-view primitive: at 100 TB the nightly job aggregates
    * ONLY the new partition and merges it into the persisted state table
    * instead of re-scanning the full history. One map-side-combined
    * groupBy; state size is key-cardinality, not event volume.
    */
  def aggState(events: DataFrame, keys: Seq[String],
               valueCol: String): DataFrame =
    events.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"), max(col(valueCol)).as("max_value"))

  /** Snapshot diff — the CDC/reconciliation op every backfill review
    * runs ("what changed between yesterday's gold and today's?"):
    * classify every key as added / removed / changed / unchanged via ONE
    * null-safe full-outer join on the key, comparing `compareCols` with
    * `<=>` so NULL→value and value→NULL edits count as changes. Returns
    * the per-row classification (key columns + `diff_status`); summarize
    * downstream. One co-partitioned shuffle on the key at any scale —
    * and on a date-partitioned gold table both sides prune to the
    * touched partitions first.
    *
    * PRECONDITION (same contract style as the series-window family's
    * non-NULL timestamps): `keys` must be unique within EACH snapshot.
    * Duplicate keys multiply rows through the full-outer join and
    * silently inflate the added/removed/changed counts — if the input
    * may carry dup ingestion, dedup (e.g. [[Dedup.exactDedup]] or a
    * keeper policy) BEFORE diffing.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select((keys ++ compareCols).map(c =>
      col(c).as(s"o_$c")) :+ lit(1).as("__o_present"): _*)
    val n = newDf.select((keys ++ compareCols).map(c =>
      col(c).as(s"n_$c")) :+ lit(1).as("__n_present"): _*)
    val joinCond = keys.map(k => col(s"o_$k") <=> col(s"n_$k"))
      .reduce(_ && _)
    val changed = compareCols.map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // presence markers, not key-null checks: the null-safe join condition
    // matches NULL keys to each other, and such a matched row must still
    // classify by comparison, not as added/removed
    val oPresent = col("__o_present").isNotNull
    val nPresent = col("__n_present").isNotNull
    o.join(n, joinCond, "full_outer")
      .withColumn("diff_status",
        when(!oPresent, lit("added"))
          .when(!nPresent, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .select(keys.map(k =>
        coalesce(col(s"o_$k"), col(s"n_$k")).as(k)) :+
        col("diff_status"): _*)
  }

  /** Data-quality expectation report (the Great-Expectations-style gate a
    * load job runs before promoting a batch): each rule is a named
    * VIOLATION predicate; the report is one conditional-sum scalar pass
    * over the data — k codegen'd counters, no shuffle beyond the final
    * 1-row partial-agg collect — melted to (rule, n_violations, n_rows,
    * violation_rate) rows. NULL predicate results count as violations
    * (an expectation that cannot be evaluated is not met).
    */
  def dqReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = rules.map { case (name, viol) =>
      sum(when(coalesce(viol, lit(true)), 1L).otherwise(0L)).as(name)
    } :+ count(lit(1)).as("__n")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.unpivot(
      Array(col("__n")),
      rules.map { case (name, _) => col(name) }.toArray,
      "rule", "n_violations")
      .select(col("rule"), col("n_violations"), col("__n").as("n_rows"),
        round(col("n_violations").cast("double") / col("__n"), 6)
          .as("violation_rate"))
      .orderBy("rule")
  }

  /** Small-files compaction — the table-maintenance job every
    * incrementally-loaded 100 TB lake needs: streaming/micro-batch
    * appends leave thousands of KB-scale part files per partition, and
    * scan cost becomes file-open cost. Rewrites a parquet directory into
    * `ceil(totalBytes / targetBytes)` files, then swaps it in via
    * rename-aside: the original moves to `path__old`, the compacted temp
    * dir renames into place, and only then is the old data deleted — the
    * live path is never absent without a replacement already staged. On
    * a crash mid-swap the data survives at exactly one of `path`,
    * `path__old`, or `path__compact_tmp` (recovery = rename the survivor
    * back). NOTE: each individual HDFS rename is atomic but the 2-rename
    * sequence is not, and on object stores rename itself is a copy — run
    * compaction in the maintenance window, not under concurrent writers.
    * Sizing uses the actual on-disk footprint via the Hadoop FileSystem
    * API, so it works unchanged on HDFS/object stores. Returns
    * (filesBefore, filesAfter).
    *
    * `repartition(n)` (round-robin) rather than `coalesce(n)`: coalesce
    * would skip the shuffle but chains the new files to the OLD file
    * boundaries — skewed inputs stay skewed. The one shuffle is the price
    * of uniformly-sized output files, and it's a maintenance job off the
    * query path.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
                     path: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(p: org.apache.hadoop.fs.Path): Seq[
        org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filter(s =>
        s.isFile && s.getPath.getName.startsWith("part-"))
    val before = partFiles(hPath)
    // fail fast on a partitioned/non-leaf directory: listStatus is
    // deliberately non-recursive, and sizing a partition TREE as 0 bytes
    // would rewrite the whole table into one file with the partition
    // columns demoted to data columns
    require(before.nonEmpty,
      s"$path holds no part- files at the top level — compactParquet " +
        "works on leaf parquet directories; compact partitioned tables " +
        "per-partition")
    val total = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    // the write is a complete action reading from the still-intact source
    // directory — only after it finishes does the swap touch `path`
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    // rename-aside swap: the live path is never missing with nothing
    // staged — a crash leaves the data intact at exactly one location
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(
        s"compactParquet: stale $old exists and could not be removed")
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(
        s"compactParquet: rename $path -> $old failed; original intact, " +
          s"compacted data is at $tmp")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(old, hPath) // roll back to the original
      throw new java.io.IOException(
        s"compactParquet: rename $tmp -> $path failed; original restored")
    }
    if (!fs.delete(old, true))
      throw new java.io.IOException(
        s"compactParquet: swap complete but could not delete $old")
    (before.size, partFiles(hPath).size)
  }

  /** Merge two additive aggregate states (same schema as [[aggState]]'s
    * output): counts and sums add, mins/maxes combine — the reduction is
    * the same algebra Spark runs in its own partial aggregates, lifted to
    * the job level. Associative and commutative, so any batch arrival
    * order yields the same state. The derived columns (avg) belong to the
    * READ side, computed from the merged sums — deriving them per-batch
    * and averaging would be wrong (non-algebraic).
    */
  def mergeAggStates(state: DataFrame, batch: DataFrame,
                     keys: Seq[String]): DataFrame =
    state.unionByName(batch)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))

  /** Referential-integrity report across the star schema's FK edges: for
    * each declared (child, parent) key pair, the child rows whose key has
    * no parent (orphans) and the parent keys never referenced (childless)
    * — the DQ gate run before trusting any join result. Each edge is two
    * anti-join COUNTS over distinct key frames (semi/anti joins on the
    * key columns only — no payload shuffles), unioned into one tidy
    * report.
    */
  def refIntegrityReport(edges: Seq[(String, DataFrame, String,
                                     String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "refIntegrityReport needs at least one edge")
    edges.map { case (childName, child, childKey,
                      parentName, parent, parentKey) =>
      val ck = child.select(col(childKey).as("__k"))
      val pk = parent.select(col(parentKey).as("__k")).distinct()
      val orphans = ck.join(pk, Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val childless = pk.join(ck.distinct(), Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n"))
      orphans.crossJoin(broadcast(childless.withColumnRenamed("n", "n2")))
        .select(lit(s"$childName.$childKey -> $parentName.$parentKey")
          .as("fk_edge"),
          col("n").as("n_orphan_rows"),
          col("n2").as("n_childless_keys"))
    }.reduce(_ unionByName _)
      .orderBy("fk_edge")
  }

  /** Type-2 slowly-changing-dimension build from a change log: each
    * key's attribute changes become half-open validity intervals —
    * `valid_from` = the change timestamp, `valid_to` = the NEXT change's
    * timestamp (NULL while current, with an `is_current` flag) — the
    * standard warehouse history table a downstream as-of join
    * ([[Temporal.asofJoin]]) reads. One key-partitioned lead window over
    * the total (ts, tiebreak) order; no self-join, no global sort.
    * Requires non-NULL timestamps (the series-window family's contract).
    */
  def scd2FromChangeLog(changes: DataFrame, keyCol: String, tsCol: String,
                        tieCol: String, attrCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    changes
      .select(col(keyCol), col(tsCol), col(tieCol), col(attrCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(tieCol), col(attrCol),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      // tieCol rides into the output so the presentation order is total
      // even when a key changes twice in the same instant
      .orderBy(col(keyCol), col("valid_from"), col(tieCol))
  }
}
