package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Etl

/** Ports of the reference's 21 unit-test behaviors (SURVEY §5.1;
  * /root/reference/tests/test_transformer.py and test_loader.py) onto the
  * set-based Etl ops, plus the file-granularity semantics the reference
  * implements via per-file exceptions.
  *
  * Fixtures mirror tests/test_transformer.py:17-33 payload shapes.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  // --- transformer behaviors ---------------------------------------------

  private def weatherDf: DataFrame = Seq(
    // (file, date, tavg, tmin, tmax, snow, tsun)
    ("f1", "2023-01-01", Some(25.5), Some(20.0), Some(30.0), None: Option[Double], None: Option[Double]),
    ("f2", "2023-01-02", None: Option[Double], Some(19.0), Some(29.0), Some(1.0), Some(2.0)),
    ("f2", "2023-01-03", Some(24.0), Some(18.0), Some(28.0), Some(0.5), Some(3.0))
  ).toDF("file", "date", "tavg", "tmin", "tmax", "snow", "tsun")

  private val weatherCols = Seq("tavg", "tmin", "tmax", "snow", "tsun")

  test("weather: snow/tsun nulls default to 0.0 (test_transformer:102-106)") {
    val (valid, _) = Etl.fileLevelSplit(weatherDf, "file",
      Etl.weatherBad(weatherCols))
    val out = Etl.transformWeather(valid, lit("United States"))
    val r = out.filter($"file" === "f1").head
    assert(r.getAs[Double]("snow") === 0.0)
    assert(r.getAs[Double]("tsun") === 0.0)
    assert(r.getAs[String]("country") === "United States")
  }

  test("weather: non-defaultable null sends the WHOLE file to error " +
    "(test_transformer:113-131)") {
    val (valid, errored) = Etl.fileLevelSplit(weatherDf, "file",
      Etl.weatherBad(weatherCols))
    // f2 has one bad row (tavg null) and one good row — both rows error
    assert(valid.select("file").distinct().as[String].collect().toSet === Set("f1"))
    assert(errored.count() === 2)
    assert(errored.select("file").distinct().as[String].collect().toSet === Set("f2"))
  }

  test("weather: transform logs carry Processed/Error per file " +
    "(test_transformer:44-60,113-131)") {
    val logs = Etl.transformLogs(weatherDf, "file", Etl.weatherBad(weatherCols))
    val m = logs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m === Map("f1" -> "Processed", "f2" -> "Error"))
  }

  private def covidDf: DataFrame = Seq(
    ("c1", "2023-01-01", Some(100), Some(5), Some(90), Some("2023-01-01"), Some("All")),
    ("c2", "2023-01-02", Some(50), None: Option[Int], Some(40), Some("2023-01-02"), Some("All")),
    // null only in a column that will be DROPPED — still corrupts (check
    // runs before the drop, transformer.py:36-43)
    ("c3", "2023-01-03", Some(70), Some(2), Some(60), None: Option[String], Some("All"))
  ).toDF("file", "date", "confirmed", "deaths", "recovered", "last_update", "region")

  private val covidCols =
    Seq("confirmed", "deaths", "recovered", "last_update", "region")

  test("covid: cleaning drops last_update/region and adds country " +
    "(test_transformer:78-83)") {
    val (valid, _) = Etl.fileLevelSplit(covidDf, "file", Etl.covidBad(covidCols))
    val out = Etl.transformCovid(valid, lit("Moldova"))
    assert(!out.columns.contains("last_update") && !out.columns.contains("region"))
    assert(out.head.getAs[String]("country") === "Moldova")
  }

  test("covid: ANY null field rejects the file — including dropped columns") {
    val (valid, errored) = Etl.fileLevelSplit(covidDf, "file",
      Etl.covidBad(covidCols))
    assert(valid.select("file").as[String].collect().toSet === Set("c1"))
    assert(errored.select("file").distinct().as[String].collect().toSet ===
      Set("c2", "c3"))
  }

  test("error-rate breaker: 100% errors → critical (test_transformer:157-180)") {
    val logs = Seq(("f1", "Error"), ("f2", "Error")).toDF("file", "status")
    val r = Etl.errorRate(logs).head
    assert(r.getAs[Double]("error_pct") === 100.0)
    assert(r.getAs[Boolean]("critical"))
  }

  test("error-rate breaker: 50% errors → critical, exact pct " +
    "(test_transformer:199-219)") {
    val logs = Seq(("f1", "Processed"), ("f2", "Error")).toDF("file", "status")
    val r = Etl.errorRate(logs).head
    assert(r.getAs[Double]("error_pct") === 50.0)
    assert(r.getAs[Boolean]("critical"))
  }

  test("error-rate breaker: below threshold not critical") {
    val logs = Seq(("f1", "Processed"), ("f2", "Processed"), ("f3", "Error"))
      .toDF("file", "status")
    val r = Etl.errorRate(logs).head
    assert(r.getAs[Double]("error_pct") === 33.33)
    assert(!r.getAs[Boolean]("critical"))
  }

  // --- loader behaviors ---------------------------------------------------

  private def gold: DataFrame = Seq(
    ("2023-01-01", "USA", 25.5, 20.0, 30.0)
  ).toDF("date", "country", "tavg", "tmin", "tmax")

  test("loader dedup: existing record is skipped (test_loader:67-78)") {
    val incoming = Seq(
      ("fileA", "2023-01-01", "USA", 25.5, 20.0, 30.0), // dup of gold
      ("fileA", "2023-01-02", "USA", 24.0, 19.0, 29.0)  // new
    ).toDF("file", "date", "country", "tavg", "tmin", "tmax")
    val fresh = Etl.dedupAgainstExisting(incoming, gold, Etl.weatherKeyCols)
    assert(fresh.count() === 1)
    assert(fresh.head.getAs[String]("date") === "2023-01-02")
  }

  test("loader dedup keys are exactly the reference probe columns " +
    "(operations.py:175-189): same measures, different day → inserted") {
    val incoming = Seq(("fileA", "2023-01-05", "USA", 25.5, 20.0, 30.0))
      .toDF("file", "date", "country", "tavg", "tmin", "tmax")
    assert(Etl.dedupAgainstExisting(incoming, gold, Etl.weatherKeyCols)
      .count() === 1)
  }

  test("loader: loading the same batch twice adds nothing (idempotence)") {
    val incoming = Seq(
      ("fileA", "2023-01-02", "USA", 24.0, 19.0, 29.0),
      ("fileA", "2023-01-03", "USA", 23.0, 18.0, 28.0)
    ).toDF("file", "date", "country", "tavg", "tmin", "tmax")
    val (after1, _) = Etl.loadBatch(incoming, gold, Etl.weatherKeyCols, "file")
    val (after2, _) = Etl.loadBatch(incoming, after1, Etl.weatherKeyCols, "file")
    assert(after1.count() === 3)
    assert(after2.count() === 3)
  }

  test("loader: all-duplicate file still logs Success (test_loader:67-78)") {
    val incoming = Seq(("fileA", "2023-01-01", "USA", 25.5, 20.0, 30.0))
      .toDF("file", "date", "country", "tavg", "tmin", "tmax")
    val (after, logs) = Etl.loadBatch(incoming, gold, Etl.weatherKeyCols, "file")
    assert(after.count() === gold.count())
    val l = logs.head
    assert(l.getAs[String]("file") === "fileA")
    assert(l.getAs[String]("status") === "Success")
  }

  test("loader: null measure never matches an existing probe → inserted " +
    "(SQL `col = NULL` semantics of the reference probe)") {
    val goldN = Seq(("2023-01-01", "USA", Option(25.5)))
      .toDF("date", "country", "tavg")
    val incoming = Seq(("2023-01-01", "USA", None: Option[Double]))
      .toDF("date", "country", "tavg")
    assert(Etl.dedupAgainstExisting(incoming, goldN,
      Seq("date", "country", "tavg")).count() === 1)
  }

  test("covid loader dedup uses covid probe keys (operations.py:192-206)") {
    val goldC = Seq(("2023-01-01", "USA", 100, 5, 90))
      .toDF("date", "country", "confirmed", "deaths", "recovered")
    val incoming = Seq(
      ("2023-01-01", "USA", 100, 5, 90),  // dup
      ("2023-01-01", "USA", 100, 6, 90)   // one measure differs → new
    ).toDF("date", "country", "confirmed", "deaths", "recovered")
    assert(Etl.dedupAgainstExisting(incoming, goldC, Etl.covidKeyCols)
      .count() === 1)
  }

  // --- upsert (C3/C6) -----------------------------------------------------

  test("upsert: existing key updated, new key appended (operations.py:131-172)") {
    val existing = Seq((1, "Pending"), (2, "Pending")).toDF("id", "status")
    val updates = Seq((2, "Processed"), (3, "Processed")).toDF("id", "status")
    val out = Etl.upsert(existing, updates, Seq("id"))
    val m = out.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m === Map(1 -> "Pending", 2 -> "Processed", 3 -> "Processed"))
  }

  test("upsert is idempotent for identical updates") {
    val existing = Seq((1, "Pending")).toDF("id", "status")
    val updates = Seq((1, "Processed")).toDF("id", "status")
    val once = Etl.upsert(existing, updates, Seq("id"))
    val twice = Etl.upsert(once, updates, Seq("id"))
    assert(twice.collect().toSeq === once.collect().toSeq)
  }

  private val goldRows = Set(
    ("2023-01-01", 1, "Pending"), ("2023-01-01", 2, "Pending"),
    ("2023-01-02", 3, "Pending"), ("2023-01-03", 4, "Pending"))

  /** A date-partitioned gold table of [[goldRows]] in a fresh directory. */
  private def goldTable(prefix: String): String = {
    val dir = tempDir(prefix).toFile.getAbsolutePath
    graft.Tables.writePartitioned(goldRows.toSeq.toDF("date", "id", "status"),
      dir, "date")
    dir
  }

  /** The part-file names in each partition directory of `dir`, by date. */
  private def partFiles(dir: String): Map[String, Set[String]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("date="))
      .map(p => p.getName.stripPrefix("date=") ->
        p.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap

  private def goldNow(dir: String): Set[(String, Int, String)] =
    spark.read.parquet(dir)
      .select(col("date").cast("string"), col("id"), col("status"))
      .as[(String, Int, String)].collect().toSet

  test("upsertPartitioned rewrites ONLY the touched partitions and " +
    "matches the global upsert's rows (operations.py:146-172 at scale)") {
    val dir = goldTable("graft_upsert")
    val before = partFiles(dir)
    // update one key in 01-02, insert a new key there too
    val updates = Seq(("2023-01-02", 3, "Processed"),
      ("2023-01-02", 5, "Processed")).toDF("date", "id", "status")
    Etl.upsertPartitioned(spark, dir, updates, Seq("date", "id"), "date")
    // untouched partition directories keep their exact files; the touched
    // one was rewritten (fresh part-file names every write)
    val after = partFiles(dir)
    assert(after("2023-01-01") === before("2023-01-01"))
    assert(after("2023-01-03") === before("2023-01-03"))
    assert(after("2023-01-02") !== before("2023-01-02"))
    assert(goldNow(dir) === Set(
      ("2023-01-01", 1, "Pending"), ("2023-01-01", 2, "Pending"),
      ("2023-01-02", 3, "Processed"), ("2023-01-02", 5, "Processed"),
      ("2023-01-03", 4, "Pending")))
    // and the partition column must be part of the key
    intercept[IllegalArgumentException] {
      Etl.upsertPartitioned(spark, dir, updates, Seq("id"), "date")
    }
  }

  test("upsertPartitioned evaluates each row of updates exactly once") {
    val dir = goldTable("graft_upsert_once")
    val evals = spark.sparkContext.longAccumulator("updates_evals")
    // nondeterministic, so no consumer can share or skip the evaluation
    val seen = udf { (_: Int) => evals.add(1); true }.asNondeterministic()
    val updates = Seq(("2023-01-02", 3, "Processed"),
      ("2023-01-04", 6, "Processed")).toDF("date", "id", "status")
      .filter(seen(col("id")))
    Etl.upsertPartitioned(spark, dir, updates, Seq("date", "id"), "date")
    assert(evals.value === 2L)
    assert(goldNow(dir) === goldRows - (("2023-01-02", 3, "Pending")) ++
      Set(("2023-01-02", 3, "Processed"), ("2023-01-04", 6, "Processed")))
  }

  test("upsertPartitioned: updates read from the gold path it rewrites " +
    "(the DAG's load shape)") {
    val dir = goldTable("graft_upsert_gold")
    val before = partFiles(dir)
    val gold = spark.read.parquet(dir)
    val incoming = Seq(("2023-01-02", 5, "New"), ("2023-01-03", 4, "Pending"),
      ("2023-01-04", 6, "New")).toDF("date", "id", "status")
      .withColumn("date", to_date(col("date")))
    // as the load does: gold plus the deduped incoming rows, cut to the
    // incoming days; one gold row is also edited on its way through
    val fresh = Etl.dedupAgainstExisting(incoming, gold, Seq("date", "id"))
    val updates = gold.unionByName(fresh)
      .join(incoming.select("date").distinct(), Seq("date"), "left_semi")
      .withColumn("status",
        when(col("id") === 3, lit("Processed")).otherwise(col("status")))
    Etl.upsertPartitioned(spark, dir, updates, Seq("date", "id"), "date")
    val after = partFiles(dir)
    assert(after("2023-01-01") === before("2023-01-01"))
    Seq("2023-01-02", "2023-01-03").foreach(d => assert(after(d) !== before(d)))
    assert(goldNow(dir) === Set(
      ("2023-01-01", 1, "Pending"), ("2023-01-01", 2, "Pending"),
      ("2023-01-02", 3, "Processed"), ("2023-01-02", 5, "New"),
      ("2023-01-03", 4, "Pending"), ("2023-01-04", 6, "New")))
  }

  test("upsertPartitioned: empty updates leave every partition file as it " +
    "was") {
    val dir = goldTable("graft_upsert_empty")
    val before = partFiles(dir)
    val updates = Seq.empty[(String, Int, String)].toDF("date", "id", "status")
    Etl.upsertPartitioned(spark, dir, updates, Seq("date", "id"), "date")
    assert(partFiles(dir) === before)
    assert(goldNow(dir) === goldRows)
  }

  // --- extractor manifest (S1-S4) -----------------------------------------

  test("extraction manifest: 3 days ⇒ 3 paths per country×api " +
    "(test_extractor:52) with the reference path pattern (:101-103)") {
    val countries = Seq("MDA", "DEU", "ITA").toDF("iso")
    val m = Etl.extractionManifest(countries, "iso", Seq("covid", "weather"),
      "2023-01-01", "2023-01-03", 20230101L)
    assert(m.count() === 3 * 2 * 3)
    val paths = m.filter($"iso" === "MDA" && $"api" === "weather")
      .select("path").as[String].collect().sorted
    assert(paths.length === 3)
    assert(paths.head === "S3/raw/batch_20230101/MDA_WEATHER_2023-01-01")
    assert(paths.forall(_.matches(
      "S3/raw/batch_\\d+/[A-Z]{3}_[A-Z]+_\\d{4}-\\d{2}-\\d{2}")))
  }

  test("batch cursor: three runs advance the persisted Variable into " +
    "abutting 30-day windows (etl_dag.py:32-46,84-86)") {
    val state = tempDir("graft_cursor")
      .resolve("cursor").toString
    val countries = Seq("MDA", "DEU").toDF("iso")
    // run 1: no state yet → the DAG's fixed default start. The cursor
    // advances EXPLICITLY after each "load" (the reference's
    // update_start_date task order), never inside the window read.
    val (s1, e1, m1) = Etl.nextCursorWindow(spark, state, countries, "iso",
      Seq("covid"), batchTs = 1L)
    Etl.setCursor(spark, state, e1)
    val (s2, e2, m2) = Etl.nextCursorWindow(spark, state, countries, "iso",
      Seq("covid"), batchTs = 2L)
    Etl.setCursor(spark, state, e2)
    val (s3, e3, m3) = Etl.nextCursorWindow(spark, state, countries, "iso",
      Seq("covid"), batchTs = 3L)
    Etl.setCursor(spark, state, e3)
    // a run that fails before its load leaves the cursor untouched: the
    // retry re-reads the SAME window (at-least-once, never a skipped one)
    val (sRetry, _, _) = Etl.nextCursorWindow(spark, state, countries,
      "iso", Seq("covid"), batchTs = 4L)
    assert(sRetry === e3)
    // each window = start + 29 days; next start = previous END (the
    // reference's set_start_date(end) — boundary day shared)
    assert((s1, e1) === ("2021-04-01", "2021-04-30"))
    assert((s2, e2) === ("2021-04-30", "2021-05-29"))
    assert((s3, e3) === ("2021-05-29", "2021-06-27"))
    // manifests really cover the windows: 30 days × 2 countries × 1 api
    Seq(m1, m2, m3).foreach(m => assert(m.count() === 30 * 2))
    // abutting: consecutive manifests share exactly the boundary day
    val days1 = m1.select("day").distinct()
    val days2 = m2.select("day").distinct()
    assert(days1.intersect(days2).count() === 1)
    // the persisted cursor survives a fresh read (it's a parameter table)
    assert(Etl.getCursor(spark, state) === "2021-06-27")
    // the unrolled audit surface replays the same stateful progression
    val unrolled = Etl.cursorManifests(countries, "iso", Seq("covid"),
      "2021-04-01", runs = 3, days = 30)
    val wins = unrolled.select("run", "window_start", "window_end")
      .distinct().orderBy("run")
      .collect().map(r => (r.getInt(0),
        r.getDate(1).toString, r.getDate(2).toString))
    assert(wins.toSeq === Seq((0, s1, e1), (1, s2, e2), (2, s3, e3)))
    assert(unrolled.count() === 3 * 30 * 2)
  }

  test("full DAG replay (§3.1): cursor → manifest → rate schedule → fetch " +
    "→ zone transform → dedup load, end to end") {
    val state = tempDir("graft_dag")
      .resolve("cursor").toString
    val root = tempDir("graft_dag_zones")
    val countries = Seq("US", "DE").toDF("iso")
    // run 1: cursor falls back to the DAG default; 3-day window for speed
    val (s1, e1, manifest) = Etl.nextCursorWindow(spark, state, countries,
      "iso", Seq("covid", "weather"), batchTs = 1L, days = 3)
    assert(s1 === "2021-04-01" && e1 === "2021-04-03")
    // admission schedule: per-api queues at 2 req/s → 6 paths/api in 3 slots
    val sched = Etl.rateLimitSchedule(manifest, s"$s1 00:00:00", 2)
    assert(sched.groupBy("api").agg(max("slot").as("mx"))
      .filter(col("mx") =!= 2L).count() === 0L)
    // fetch: every manifest row lands as one file in the reference layout
    val fetchLog = Etl.runFetch(manifest, root.toString)
    assert(fetchLog.filter($"status" =!= "Landed").count() === 0L)
    assert(fetchLog.count() === 2 * 2 * 3)
    // zone transform for the US covid partition: raw → processed, no errors
    val covidSchema = "date STRING, confirmed BIGINT, deaths BIGINT, " +
      "recovered BIGINT, last_update STRING, region STRING"
    val processedDir = root.resolve("processed").toString
    val (tLogs, breaker) = Etl.runCovidTransform(spark,
      root.resolve("S3/raw/batch_1").toString + "/US_COVID_*",
      processedDir, root.resolve("error").toString,
      covidSchema, Etl.covidNullCheckCols, "US")
    assert(tLogs.filter($"status" =!= "Processed").count() === 0L)
    assert(!breaker.head.getAs[Boolean]("critical"))
    // load with duplicate suppression on the reference probe keys
    val incoming = spark.read
      .schema("date STRING, confirmed BIGINT, deaths BIGINT, " +
        "recovered BIGINT, country STRING")
      .json(processedDir)
    assert(incoming.count() === 3)
    val fresh = Etl.dedupAgainstExisting(incoming, incoming.limit(0),
      Etl.covidKeyCols)
    assert(fresh.count() === 3)
    // idempotence: replaying the batch against the loaded gold adds nothing
    assert(Etl.dedupAgainstExisting(incoming, fresh, Etl.covidKeyCols)
      .count() === 0L)
    // load succeeded → NOW advance the cursor (update_start_date runs last)
    Etl.setCursor(spark, state, e1)
    // run 2: the persisted cursor advanced — next window abuts on e1
    val (s2, e2, _) = Etl.nextCursorWindow(spark, state, countries, "iso",
      Seq("covid", "weather"), batchTs = 2L, days = 3)
    assert(s2 === e1 && e2 === "2021-04-05")
  }

  test("parameterized funnel: filters restrict without changing shape " +
    "(etl_logs.py widget filters as typed predicates)") {
    val (c, o, l, n) = (Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.nation(spark, sfDir))
    val all = graft.ops.Relational.funnelFiltered(c, o, l, n)
    val some = graft.ops.Relational.funnelFiltered(c, o, l, n,
      dateFrom = Some("1996-01-01"), dateTo = Some("1996-12-31"),
      nations = Seq("NATION_1", "NATION_2"))
    assert(some.columns.toSeq === all.columns.toSeq)
    assert(some.count() <= all.count())
    val names = some.select("nation").as[String].collect().toSet
    assert(names === Set("NATION_1", "NATION_2"))
  }

  // --- file-granularity via input_file_name over a real JSON zone ---------

  test("C1 end-to-end over JSON files: input_file_name() granularity") {
    val dir = tempDir("graft_raw").toFile
    def write(name: String, lines: Seq[String]): Unit = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f)
      try lines.foreach(w.println) finally w.close()
    }
    // fileB has one corrupt row → whole file must error
    write("good.json", Seq(
      """{"date":"2023-01-01","tavg":25.5,"tmin":20.0,"tmax":30.0,"snow":null,"tsun":null}"""))
    write("bad.json", Seq(
      """{"date":"2023-01-02","tavg":24.0,"tmin":19.0,"tmax":29.0,"snow":1.0,"tsun":2.0}""",
      """{"date":"2023-01-03","tavg":null,"tmin":18.0,"tmax":28.0,"snow":1.0,"tsun":2.0}"""))
    val schema = "date STRING, tavg DOUBLE, tmin DOUBLE, tmax DOUBLE, snow DOUBLE, tsun DOUBLE"
    val raw = spark.read.schema(schema).json(dir.getAbsolutePath)
      .withColumn("src_file",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
    val (valid, errored) = Etl.fileLevelSplit(raw, "src_file",
      Etl.weatherBad(Seq("tavg", "tmin", "tmax", "snow", "tsun")))
    assert(valid.select("src_file").distinct().as[String].collect().toSet ===
      Set("good.json"))
    assert(errored.count() === 2)
    dir.listFiles.foreach(_.delete()); dir.delete()
  }

  // --- JDBC edges (S8/S9) over embedded Derby -----------------------------

  private val jdbcOpts =
    Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  test("S8/S9: JDBC write → read round-trip (operations.py:63-108 / " +
    "forecasting_dag.py:47-52)") {
    val url = "jdbc:derby:memory:graft_rt;create=true"
    val gold = Seq(
      (1L, "2023-01-01", "US", 100.0),
      (2L, "2023-01-02", "US", 101.5),
      (3L, "2023-01-01", "DE", 90.0)
    ).toDF("id", "date", "country", "value")
    Etl.writeJdbc(gold, url, "gold_metrics", mode = "overwrite", jdbcOpts)
    val back = Etl.readJdbc(spark, url, "gold_metrics", jdbcOpts)
    assert(back.columns.sorted === gold.columns.sorted)
    assert(back.orderBy("id").collect().map(_.toString).toSeq ===
      gold.select(back.columns.map(col): _*).orderBy("id")
        .collect().map(_.toString).toSeq)
  }

  test("S8+C4: JDBC batch load suppresses duplicates on the probe keys " +
    "(loader.py:36-57 as one anti-join)") {
    val url = "jdbc:derby:memory:graft_load;create=true"
    val existing = Seq((1L, "k1", 10.0), (2L, "k2", 20.0))
      .toDF("id", "key", "value")
    Etl.writeJdbc(existing, url, "gold", mode = "overwrite", jdbcOpts)
    // batch re-sends one existing row and adds one new
    val batch = Seq((2L, "k2", 20.0), (3L, "k3", 30.0))
      .toDF("id", "key", "value")
    Etl.loadBatchJdbc(batch, url, "gold", Seq("id", "key", "value"), jdbcOpts)
    val after = Etl.readJdbc(spark, url, "gold", jdbcOpts)
    assert(after.count() === 3)
    // idempotence: reloading the same batch adds nothing
    Etl.loadBatchJdbc(batch, url, "gold", Seq("id", "key", "value"), jdbcOpts)
    assert(Etl.readJdbc(spark, url, "gold", jdbcOpts).count() === 3)
  }

  // --- HTTP ingest seam (S1/S2) -------------------------------------------

  test("S1/S2: runFetch lands one deterministic JSON file per manifest row " +
    "in the reference layout (test_extractor.py:101-103)") {
    val countries = Seq("US", "DE").toDF("iso")
    val manifest = Etl.extractionManifest(countries, "iso",
      Seq("covid", "weather"), "2023-01-01", "2023-01-02", batchTs = 42L)
    val root = tempDir("graft_fetch")
    val log = Etl.runFetch(manifest, root.toString)
    assert(log.count() === 8) // 2 countries × 2 apis × 2 days
    assert(log.filter($"status" =!= "Landed").count() === 0)
    // exact reference layout: S3/raw/batch_<ts>/<ISO>_<API>_<yyyy-MM-dd>
    val f = root.resolve("S3/raw/batch_42/US_COVID_2023-01-01")
    assert(java.nio.file.Files.exists(f), s"missing ${f}")
    val body1 = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(body1.contains("\"confirmed\""))
    // weather payloads carry the weather record shape
    val w = root.resolve("S3/raw/batch_42/DE_WEATHER_2023-01-02")
    val wBody = new String(java.nio.file.Files.readAllBytes(w), "UTF-8")
    assert(wBody.contains("\"tavg\"") && !wBody.contains("confirmed"))
    // deterministic: re-fetching writes byte-identical payloads
    Etl.runFetch(manifest, root.toString).count()
    val body2 = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(body1 === body2)
    // landed files parse as schema'd JSON (the S5 entry point)
    val parsed = spark.read
      .schema("date STRING, confirmed BIGINT, deaths BIGINT, recovered BIGINT, last_update STRING, region STRING")
      .json(root.resolve("S3/raw/batch_42/US_COVID_2023-01-01").toString)
    assert(parsed.count() === 1 &&
      parsed.head.getAs[String]("date") === "2023-01-01")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("aggState/mergeAggStates: merging any batch split equals the " +
    "full recompute, in any merge order") {
    val ev = Tables.events(spark, sfDir)
    val keys = Seq("user_id", "event_type")
    val full = Etl.aggState(ev, keys, "value")
    // three arbitrary disjoint covering splits, merged in a shuffled order
    val parts = Seq(
      ev.filter(col("event_id") % 3 === 0),
      ev.filter(col("event_id") % 3 === 1),
      ev.filter(col("event_id") % 3 === 2)
    ).map(Etl.aggState(_, keys, "value"))
    val merged = Etl.mergeAggStates(
      Etl.mergeAggStates(parts(2), parts(0), keys), parts(1), keys)
    // n/min/max are exact; sums compare after the same dyadic-safe rounding
    // the gate applies (float addition order differs across the splits)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("s"),
        col("min_value"), col("max_value"))
    assert(canon(merged).exceptAll(canon(full)).isEmpty &&
      canon(full).exceptAll(canon(merged)).isEmpty)
  }

  test("compactParquet: shrinks a many-small-files table to the sized " +
    "file count with identical data") {
    val dir = tempDir("compact").toString
    val path = s"$dir/events"
    val ev = Tables.events(spark, sfDir)
    ev.repartition(16).write.parquet(path)
    val total = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.length).sum
    // target half the footprint -> exactly 2 output files
    val (before, after) = Etl.compactParquet(spark, path, (total + 1) / 2)
    assert(before === 16 && after === 2)
    val re = spark.read.parquet(path)
    assert(re.exceptAll(ev).isEmpty && ev.exceptAll(re).isEmpty)
    // a partitioned (non-leaf) directory must be refused, not silently
    // rewritten into one unpartitioned file
    val partPath = s"$dir/events_partitioned"
    ev.withColumn("etype", col("event_type"))
      .write.partitionBy("etype").parquet(partPath)
    val err = intercept[IllegalArgumentException] {
      Etl.compactParquet(spark, partPath, 1024L * 1024)
    }
    assert(err.getMessage.contains("leaf parquet directories"))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("snapshotDiff: added/removed/changed/unchanged classification is " +
    "NULL-safe on both keys and compared columns") {
    import spark.implicits._
    val old = Seq(
      (Some(1L), Some("a")), (Some(2L), Some("b")),
      (Some(3L), Option.empty[String]),  // value NULL -> non-NULL: changed
      (Some(4L), Some("d")),             // removed
      (Option.empty[Long], Some("n"))    // NULL key matches NULL key
    ).toDF("k", "v")
    val neu = Seq(
      (Some(1L), Some("a")),             // unchanged
      (Some(2L), Some("B")),             // changed
      (Some(3L), Some("c")),             // changed (NULL -> value)
      (Some(5L), Some("e")),             // added
      (Option.empty[Long], Some("n"))    // unchanged despite NULL key
    ).toDF("k", "v")
    val got = Etl.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .collect()
      .map(r => (if (r.isNullAt(0)) -99L else r.getLong(0),
        r.getString(r.fieldIndex("diff_status")))).toSet
    assert(got === Set(
      (1L, "unchanged"), (2L, "changed"), (3L, "changed"),
      (4L, "removed"), (5L, "added"), (-99L, "unchanged")))
  }

  test("mergeAggStates: keys present in only one side survive the merge " +
    "unchanged") {
    import spark.implicits._
    val a = Seq((1L, "x", 2L, 10.0, 1.0, 9.0), (2L, "y", 1L, 5.0, 5.0, 5.0))
      .toDF("user_id", "event_type", "n", "sum_value", "min_value",
        "max_value")
    val b = Seq((1L, "x", 3L, 6.0, -1.0, 4.0), (3L, "z", 1L, 7.0, 7.0, 7.0))
      .toDF("user_id", "event_type", "n", "sum_value", "min_value",
        "max_value")
    val m = Etl.mergeAggStates(a, b, Seq("user_id", "event_type"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(m === Array(
      (1L, "x", 5L, 16.0, -1.0, 9.0),
      (2L, "y", 1L, 5.0, 5.0, 5.0),
      (3L, "z", 1L, 7.0, 7.0, 7.0)))
  }

  test("refIntegrityReport: orphan child rows and childless parent keys " +
    "counted per edge") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 9L, 9L).toDF("fk")  // 9 is orphan x2
    val out = graft.ops.Etl.refIntegrityReport(Seq(
      ("child", child, "fk", "parent", parent, "pk"))).head
    assert(out.getString(0) === "child.fk -> parent.pk")
    assert(out.getAs[Long]("n_orphan_rows") === 2L)
    assert(out.getAs[Long]("n_childless_keys") === 1L)  // pk=3
  }

  test("scd2FromChangeLog: abutting half-open intervals per key, exactly " +
    "one current row, same-instant changes ordered by the tiebreak") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1000000L + s * 1000L)
    val log = Seq(
      (7L, t(1), 100L, "bronze"),
      (7L, t(5), 101L, "silver"),
      (7L, t(5), 102L, "gold"),    // same instant — tiebreak on id
      (8L, t(2), 103L, "bronze")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = graft.ops.Etl.scd2FromChangeLog(log, "user_id", "ts",
      "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)),
        r.getBoolean(5)))
    assert(out === Array(
      (7L, "bronze", t(1), Some(t(5)), false),
      (7L, "silver", t(5), Some(t(5)), false),
      (7L, "gold", t(5), None, true),
      (8L, "bronze", t(2), None, true)))
    // exactly one current row per key
    assert(out.count(_._5) === 2)
  }
}
