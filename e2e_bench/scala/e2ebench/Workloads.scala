package e2ebench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.ops.Etl

/** What one op run left behind, for the samples and the trace. */
final class OpRun(val id: Int, val name: String) {
  var ok = true
  var error = ""
  var latencyS = 0.0
  var wall = Span(0, 0)
  var build: Option[Span] = None
  var sink: Option[Span] = None
  var finalQe: Option[org.apache.spark.sql.execution.QueryExecution] = None
  /** Spans of the program calls the benchmark timed, by layer name. */
  val calls = mutable.ArrayBuffer.empty[(String, Span)]
  var rounds = 0
  var leakedPersisted = 0
  var confWrites = Seq.empty[String]
  var artifactsBuilt = 0
  var artifactsServed = 0
  var captured: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
}

/** A workload: how it resolves its inputs, what its cold pass runs, and the
  * op sequence of its i-th block in the timed loop.
  */
trait Workload {
  def setup(): Unit
  /** Blocks the timed window runs at the least, however short `--seconds`. */
  def minBlocks: Int = 1
  def coldPass: Seq[String]
  def block(i: Int): Seq[String]
  def run(op: OpRun, capture: Boolean): Unit
  def report(out: Json): Unit = ()
}

/** Registry gates from `SparkEntry.queries`: `dashboard_mix` draws from a
  * weighted pool, `batch_dags` runs whole passes over a fixed DAG.
  */
final class GateWorkload(spark: SparkSession, data: String, seed: Long,
                         pool: Seq[(String, Int)], tables: Seq[String],
                         faults: Map[String, String], override val minBlocks: Int = 1)
    extends Workload {
  private val gates = SparkEntry.queries
  private val distinct = pool.map(_._1)
  private val weighted = pool.flatMap { case (n, w) => Seq.fill(w)(n) }

  def setup(): Unit = tables.foreach { t =>
    (if (t == "events") Tables.events(spark, data) else Tables.load(spark, data, t)).schema
  }
  /** Pool order, not seeded: what the cold pass costs depends on the order
    * its ops warm the JVM in, and a seed must not move it.
    */
  def coldPass: Seq[String] = distinct
  def block(i: Int): Seq[String] = new scala.util.Random(seed * 1000003L + i).shuffle(weighted)

  def run(op: OpRun, capture: Boolean): Unit = {
    val sc = spark.sparkContext
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    sc.addJobTag("e2e.build")
    try {
      val df = faults.get(op.name) match {
        case Some("throw") => throw new IllegalStateException(s"injected fault in ${op.name}")
        case Some("wrong") => gates(op.name)(spark, data).filter(lit(false))
        case _ => gates(op.name)(spark, data)
      }
      val t1 = System.currentTimeMillis()
      op.build = Some(Span(t0, t1))
      sc.removeJobTag("e2e.build")
      sc.addJobTag("e2e.exec")
      op.finalQe = Some(df.queryExecution)
      if (capture) op.captured = Some((df.collect(), df.schema))
      else df.queryExecution.toRdd.count()
      op.sink = Some(Span(t1, System.currentTimeMillis()))
    } catch {
      case e: Throwable => op.ok = false; op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      sc.removeJobTag("e2e.build")
      sc.removeJobTag("e2e.exec")
    }
    op.latencyS = (System.nanoTime() - n0) / 1e9
    op.wall = Span(t0, System.currentTimeMillis())
  }
}

/** `etl_ingest`: each op is one ingest round through the `Etl` zone
  * pipeline into two date-partitioned gold tables, inside `root`.
  */
final class EtlWorkload(spark: SparkSession, root: Path, seed: Long) extends Workload {
  import EtlWorkload._
  private val rng = new scala.util.Random(seed)
  val countries: Seq[String] = rng.shuffle(CountryPool).take(Countries).sorted
  private val day0 = LocalDate.of(2021, 1, 1).plusDays(rng.nextInt(300).toLong)
  private var cursor = day0.plusDays(1)
  private val loadedDays = mutable.ArrayBuffer.empty[LocalDate]
  private var nextRound = 0
  val rounds = mutable.ArrayBuffer.empty[Json]
  private def gold(api: String) = root.resolve(s"gold/$api").toString

  def setup(): Unit = {
    // bootstrap: one partition per gold table so that it resolves; rows
    // for day0 are outside every round's window and are never rewritten
    import spark.implicits._
    val d = java.sql.Date.valueOf(day0)
    Tables.writePartitioned(countries.map(c => (0L, 0L, 0L, c, d))
      .toDF("confirmed", "deaths", "recovered", "country", "date"), gold("covid"), "date")
    Tables.writePartitioned(countries.map(c => (0.0, 0.0, 0.0, 0.0, 0.0, c, d))
      .toDF("tavg", "tmin", "tmax", "snow", "tsun", "country", "date"), gold("weather"), "date")
    Apis.foreach(a => spark.read.parquet(gold(a)).schema)
  }
  def coldPass: Seq[String] = Seq("round")
  def block(i: Int): Seq[String] = Seq("round")

  def run(op: OpRun, capture: Boolean): Unit = {
    val r = nextRound
    nextRound += 1
    val rr = new scala.util.Random(seed * 7919L + r)
    val sc = spark.sparkContext
    val batch = root.resolve(s"S3/raw/batch_${r + 1}")
    val newDays = (0 until NewDays).map(i => cursor.plusDays(i.toLong))
    val again = rr.shuffle(loadedDays.toSeq).take(RedeliveredDays).sorted
    val rec = new Json
    val goldBefore = Apis.map(a => a -> partitionFiles(Paths.get(gold(a)))).toMap
    val n0 = System.nanoTime()
    val t0 = System.currentTimeMillis()
    def call[T](layer: String)(f: => T): T = {
      val s = System.currentTimeMillis()
      sc.addJobTag(s"e2e.$layer")
      try f finally {
        sc.removeJobTag(s"e2e.$layer")
        op.calls += layer -> Span(s, System.currentTimeMillis())
      }
    }
    var corrupted = Seq.empty[String]
    try {
      import spark.implicits._
      val cdf = countries.toDF("iso")
      // 1-2: manifest for the new window plus the re-delivered days; land it
      val manifest = (Seq((newDays.head, newDays.last)) ++ again.map(d => (d, d)))
        .map { case (a, b) =>
          Etl.extractionManifest(cdf, "iso", Apis, a.toString, b.toString, r + 1L)
        }.reduce(_ unionByName _)
      val landed = call("fetch")(Etl.runFetch(manifest, root.toString).collect())
      rec.num("files_landed", landed.count(_.getString(2) == "Landed"))
      // 3: a seeded share of the landed files gets a NULL in a required field
      corrupted = call("inject") {
        val files = landed.map(_.getString(0)).sorted.toSeq
        val pick = rr.shuffle(files).take(math.round(files.size * CorruptShare).toInt).sorted
        pick.foreach(corrupt)
        pick
      }
      rec.num("raw_bytes", landed.map(l => Files.size(root.resolve(l.getString(0)))).sum)
      // 4: zone transforms, one country and one api per call
      val logs = call("transform") {
        countries.flatMap { iso =>
          Seq(
            Etl.runCovidTransform(spark, s"$batch/${iso}_COVID_*", zone("processed", r, iso, "covid"),
              zone("error", r, iso, "covid"), CovidRaw, Etl.covidNullCheckCols, iso)._1,
            Etl.runWeatherTransform(spark, s"$batch/${iso}_WEATHER_*", zone("processed", r, iso, "weather"),
              zone("error", r, iso, "weather"), WeatherRaw, Etl.weatherCheckCols, iso)._1)
        }
      }
      // 5: dedup-load against gold, then rewrite the touched partitions
      Apis.foreach { api =>
        val keys = if (api == "covid") Etl.covidKeyCols else Etl.weatherKeyCols
        val updates = call("load") {
          val incoming = spark.read.schema(if (api == "covid") CovidProcessed else WeatherProcessed)
            .json(countries.map(iso => zone("processed", r, iso, api)): _*)
            .withColumn("src_file", input_file_name())
          val (all, loadLogs) = Etl.loadBatch(incoming, spark.read.parquet(gold(api)), keys, "src_file")
          loadLogs.collect()
          all.join(incoming.select("date").distinct(), Seq("date"), "left_semi")
        }
        call("upsert")(Etl.upsertPartitioned(spark, gold(api), updates, keys, "date"))
      }
      // 6: one read of gold
      val breaker = call("read") {
        spark.read.parquet(gold("covid")).groupBy("country").agg(max("date")).collect()
        Etl.errorRate(logs.reduce(_ unionByName _)).collect().head
      }
      rec.num("breaker_files", breaker.getAs[Long]("n_files"))
      rec.num("breaker_errors", breaker.getAs[Long]("n_errors"))
    } catch {
      case e: Throwable => op.ok = false; op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    op.latencyS = (System.nanoTime() - n0) / 1e9
    op.wall = Span(t0, System.currentTimeMillis())
    cursor = cursor.plusDays(NewDays.toLong)
    loadedDays ++= newDays
    // bookkeeping outside the timed op: bytes each zone received
    val zoneBytes = Seq("processed", "error").map { z =>
      countries.flatMap(iso => Apis.map(a => treeBytes(Paths.get(zone(z, r, iso, a))))).sum
    }
    var rewritten = 0
    var goldWritten = 0L
    Apis.foreach { a =>
      val after = partitionFiles(Paths.get(gold(a)))
      after.foreach { case (part, files) =>
        val fresh = files.filterNot { case (f, _) => goldBefore(a).get(part).exists(_.contains(f)) }
        if (fresh.nonEmpty) { rewritten += 1; goldWritten += fresh.values.sum }
      }
    }
    rec.num("round", r).str("op", op.name).num("latency_s", op.latencyS)
      .num("partitions_rewritten", rewritten)
      .num("processed_bytes", zoneBytes(0)).num("error_bytes", zoneBytes(1))
      .num("gold_bytes_written", goldWritten)
      .strs("corrupted", corrupted).str("batch", root.relativize(batch).toString)
      .strs("new_days", newDays.map(_.toString)).strs("redelivered", again.map(_.toString))
      .num("op_id", op.id)
    rounds += rec
  }

  private def zone(z: String, r: Int, iso: String, api: String): String =
    root.resolve(s"$z/round_$r/${iso}_$api").toString

  /** Rewrite one landed payload with a NULL in a field the validity rule
    * requires (covid: deaths; weather: tavg).
    */
  private def corrupt(rel: String): Unit = {
    val p = root.resolve(rel)
    val field = if (rel.contains("_COVID_")) "deaths" else "tavg"
    val s = new String(Files.readAllBytes(p), "UTF-8")
    Files.write(p, s.replaceFirst(s""""$field":[^,}]+""", s""""$field":null""").getBytes("UTF-8"))
  }

  override def report(out: Json): Unit = {
    out.strs("countries", countries).str("day0", day0.toString)
      .arr("rounds", rounds.toSeq)
      .num("gold_bytes_final", Apis.map { a =>
        partitionFiles(Paths.get(gold(a))).filter(_._1 != s"date=$day0").values.flatMap(_.values).sum
      }.sum)
  }
}

object EtlWorkload {
  val CountryPool = Seq("MDA", "DEU", "ITA", "FRA", "ESP", "POL")
  /** Countries loaded by a run, chosen once from the pool by the seed. */
  val Countries = 1
  val NewDays = 4
  val RedeliveredDays = 2
  val CorruptShare = 0.125
  val Apis = Seq("covid", "weather")
  val CovidRaw = "date DATE, confirmed BIGINT, deaths BIGINT, recovered BIGINT, " +
    "last_update STRING, region STRING"
  val WeatherRaw = "date DATE, tavg DOUBLE, tmin DOUBLE, tmax DOUBLE, snow DOUBLE, tsun DOUBLE"
  val CovidProcessed = "date DATE, confirmed BIGINT, deaths BIGINT, recovered BIGINT, country STRING"
  val WeatherProcessed = "date DATE, tavg DOUBLE, tmin DOUBLE, tmax DOUBLE, snow DOUBLE, " +
    "tsun DOUBLE, country STRING"

  /** partition dir name -> (file name -> bytes) of a partitioned table. */
  def partitionFiles(table: Path): Map[String, Map[String, Long]] =
    if (!Files.isDirectory(table)) Map.empty
    else listDir(table).filter(Files.isDirectory(_)).map { part =>
      part.getFileName.toString ->
        listDir(part).filter(Files.isRegularFile(_)).map(f => f.getFileName.toString -> Files.size(f)).toMap
    }.toMap

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toSeq finally s.close()
  }
}
