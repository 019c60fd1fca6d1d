package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.ops.Etl

/** End-to-end zoned dataflow: raw JSON → processed/error zones + audit +
  * breaker, mirroring the reference pipeline run shape
  * (etl/transformer.py:81-141), plus scale-variant accuracy checks for the
  * approx aggregates the 100 TB path would substitute.
  */
class ZoneSpec extends SparkSpec {
  import spark.implicits._

  test("raw zone splits into processed and error zones with audit + breaker") {
    val base = tempDir("graft_zones").toFile
    val rawDir = new java.io.File(base, "raw"); rawDir.mkdirs()
    def write(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(rawDir, name))
      try lines.foreach(w.println) finally w.close()
    }
    write("MDA_WEATHER_2023-01-01.json", Seq(
      """{"date":"2023-01-01","tavg":25.5,"tmin":20.0,"tmax":30.0,"snow":null,"tsun":null}"""))
    write("MDA_WEATHER_2023-01-02.json", Seq(
      """{"date":"2023-01-02","tavg":24.0,"tmin":19.0,"tmax":29.0,"snow":1.0,"tsun":2.0}""",
      """{"date":"2023-01-03","tavg":null,"tmin":18.0,"tmax":28.0,"snow":1.0,"tsun":2.0}"""))
    val processed = new java.io.File(base, "processed").getAbsolutePath
    val error = new java.io.File(base, "error").getAbsolutePath
    val schema = "date STRING, tavg DOUBLE, tmin DOUBLE, tmax DOUBLE, " +
      "snow DOUBLE, tsun DOUBLE"
    val (logs, breaker) = Etl.runWeatherTransform(spark,
      rawDir.getAbsolutePath, processed, error, schema,
      Etl.weatherCheckCols, "Moldova")

    // processed zone: only the good file's row, defaults applied, country set
    val p = spark.read.json(processed)
    assert(p.count() === 1)
    val pr = p.head
    assert(pr.getAs[Double]("snow") === 0.0 &&
      pr.getAs[String]("country") === "Moldova")
    // error zone: BOTH rows of the bad file, untouched (no country column)
    val e = spark.read.json(error)
    assert(e.count() === 2)
    assert(!e.columns.contains("country"))
    // audit: one Processed, one Error; breaker at 50% → critical
    val lm = logs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lm.values.toSeq.sorted === Seq("Error", "Processed"))
    val b = breaker.head
    assert(b.getAs[Double]("error_pct") === 50.0 &&
      b.getAs[Boolean]("critical"))

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(base)
  }

  test("covid raw zone: null in a to-be-dropped column still errors the " +
    "file; survivors lose last_update/region (transformer.py:36-43)") {
    val base = tempDir("graft_covid").toFile
    val rawDir = new java.io.File(base, "raw"); rawDir.mkdirs()
    def write(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(rawDir, name))
      try lines.foreach(w.println) finally w.close()
    }
    write("USA_COVID_2023-01-01.json", Seq(
      """{"date":"2023-01-01","confirmed":100,"deaths":5,"recovered":90,"last_update":"2023-01-01","region":"All"}"""))
    write("USA_COVID_2023-01-02.json", Seq(
      """{"date":"2023-01-02","confirmed":50,"deaths":2,"recovered":40,"last_update":null,"region":"All"}"""))
    val processed = new java.io.File(base, "processed").getAbsolutePath
    val error = new java.io.File(base, "error").getAbsolutePath
    val schema = "date STRING, confirmed INT, deaths INT, recovered INT, " +
      "last_update STRING, region STRING"
    val (logs, breaker) = Etl.runCovidTransform(spark,
      rawDir.getAbsolutePath, processed, error, schema,
      Etl.covidNullCheckCols, "United States")
    val p = spark.read.json(processed)
    assert(p.count() === 1)
    assert(!p.columns.contains("last_update") && !p.columns.contains("region"))
    assert(p.head.getAs[String]("country") === "United States")
    assert(spark.read.json(error).count() === 1)
    assert(breaker.head.getAs[Boolean]("critical")) // 50% errors
    assert(logs.count() === 2)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(base)
  }

  private val weatherSchema = "date STRING, tavg DOUBLE, tmin DOUBLE, " +
    "tmax DOUBLE, snow DOUBLE, tsun DOUBLE"

  private def weatherLine(day: Int, tavg: String): String =
    f"""{"date":"2023-01-$day%02d","tavg":$tavg,"tmin":18.0,"tmax":28.0,""" +
      """"snow":1.0,"tsun":2.0}"""

  /** A raw zone of `files` (name -> JSON lines) under a fresh directory,
    * with the processed and error zone paths beside it.
    */
  private def zones(prefix: String, files: Map[String, Seq[String]])
      : (String, String, String) = {
    val base = tempDir(prefix)
    val raw = Files.createDirectories(base.resolve("raw"))
    files.foreach { case (name, lines) =>
      Files.write(raw.resolve(name), lines.asJava)
    }
    (raw.toString, base.resolve("processed").toString,
      base.resolve("error").toString)
  }

  test("a raw file read as several input splits still errors whole") {
    // the bad row is the file's last line: a split-local status would pass
    // the file's first rows as valid
    val lines =
      (1 to 8).map(d => weatherLine(d, if (d == 8) "null" else "24.0"))
    val (raw, processed, error) = zones("graft_split",
      Map("MDA_WEATHER_2023-01-01.json" -> Seq(weatherLine(1, "25.5")),
        "MDA_WEATHER_2023-01-02.json" -> lines))
    withConf("spark.sql.files.maxPartitionBytes", "256") {
      assert(spark.read.schema(weatherSchema).json(raw).rdd
        .getNumPartitions >= 3, "the 8-line file is not split")
      Etl.runWeatherTransform(spark, raw, processed, error, weatherSchema,
        Etl.weatherCheckCols, "Moldova")
    }
    assert(spark.read.schema(weatherSchema).json(error).count() === 8)
    assert(spark.read.json(processed).count() === 1)
  }

  test("an all-good batch still writes an empty error zone") {
    val (raw, processed, error) = zones("graft_all_good",
      Map("MDA_WEATHER_2023-01-01.json" -> Seq(weatherLine(1, "25.5"))))
    val (logs, breaker) = Etl.runWeatherTransform(spark, raw, processed,
      error, weatherSchema, Etl.weatherCheckCols, "Moldova")
    assert(Files.exists(Paths.get(error, "_SUCCESS")))
    assert(spark.read.schema(weatherSchema).json(error).count() === 0)
    assert(spark.read.json(processed).count() === 1)
    assert(logs.collect().map(_.getString(1)).toSeq === Seq("Processed"))
    assert(breaker.head.getAs[Long]("n_errors") === 0L)
  }

  test("CSV sink/source round-trip (S10: forecast/prediction exports)") {
    val dir = tempDir("graft_csv").toFile
    val out = new java.io.File(dir, "preds").getAbsolutePath
    val df = Seq(("2023-01-01", 25.5, 24.9), ("2023-01-02", 24.0, 24.2))
      .toDF("date", "actual", "predicted")
    df.write.option("header", "true").mode("overwrite").csv(out)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(out)
    assert(back.count() === 2)
    assert(back.columns.toSeq === Seq("date", "actual", "predicted"))
    assert(math.abs(back.agg(sum("predicted")).head.getDouble(0) - 49.1) < 1e-9)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(dir)
  }

  test("gold layout: partitioned write enables partition pruning") {
    val dir = tempDir("graft_gold").toFile
    val gold = new java.io.File(dir, "orders").getAbsolutePath
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(gold)
    val pruned = spark.read.parquet(gold).filter(col("o_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_year"), s"no partition pruning in plan:\n$plan")
    // pruning must not change results
    val all = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(pruned.count() === all)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(dir)
  }

  test("salted two-stage aggregation equals the direct groupBy") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"),
        min("value").as("min_v"), max("value").as("max_v"),
        round(sum("value") / count(lit(1)), 6).as("mean"))
      .orderBy("event_type").collect()
    val salted = graft.ops.Relational.saltedAgg(ev, "event_type", "value", 16)
      .collect()
    assert(salted.length === direct.length)
    salted.zip(direct).foreach { case (s, d) =>
      assert(s.getString(0) === d.getString(0))
      assert(s.getLong(1) === d.getLong(1))
      assert(math.abs(s.getDouble(2) - d.getDouble(2)) <= 1e-4)
      assert(s.getDouble(3) === d.getDouble(3))
      assert(s.getDouble(4) === d.getDouble(4))
      assert(math.abs(s.getDouble(5) - d.getDouble(5)) <= 1e-6)
    }
  }

  test("approx scale variants track exact within tolerance " +
    "(A3 approx_count_distinct, A15 percentile_approx)") {
    val li = Tables.lineitem(spark, sfDir)
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("d"),
      expr("percentile(l_extendedprice, 0.95)").as("p")).head
    val approx = li.agg(
      approx_count_distinct(col("l_partkey")).as("d"),
      expr("percentile_approx(l_extendedprice, 0.95, 10000)").as("p")).head
    val dErr = math.abs(approx.getLong(0) - exact.getLong(0)).toDouble /
      exact.getLong(0)
    val pErr = math.abs(approx.getDouble(1) - exact.getDouble(1)) /
      exact.getDouble(1)
    info(f"approx_count_distinct err ${dErr * 100}%.2f%%, " +
      f"percentile_approx err ${pErr * 100}%.3f%%")
    assert(dErr <= 0.05, f"distinct err $dErr%.4f")
    assert(pErr <= 0.01, f"percentile err $pErr%.5f")
  }
}
