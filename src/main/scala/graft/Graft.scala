package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession wired the way the engine expects —
  * [[GraftExtensions]] injected (native `cosine_sim` available to SQL and
  * `expr(...)`), UTC session time, nanos parquet timestamps read as longs,
  * and a shuffle-partition count sized by the caller rather than Spark's
  * 200 default. On a real cluster pass
  * `master = None` and size `shufflePartitions` to ~2-3× total executor
  * cores (or leave AQE coalescing, on by default in Spark 4, to trim it).
  */
object Graft {
  def session(master: Option[String] = Some("local[*]"),
              appName: String = "graft",
              shufflePartitions: Int = 32,
              extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4 chunks base64() output into 76-char CRLF lines by default
      // (MIME style); every other engine emits one unchunked string, so a
      // >76-char transport payload would silently break oracle parity and
      // java.util.Base64 decoding
      .config("spark.sql.chunkBase64String.enabled", "false")
      // events.parquet has shipped its ts as TIMESTAMP(NANOS), which Spark
      // has no type for: read it as a nanos long that Tables.events
      // truncates to µs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
    master.foreach(b.master)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
