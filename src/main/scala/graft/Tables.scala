package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver testdata star schema (TESTDATA.md).
  *
  * All engine operators are pure `DataFrame => DataFrame` functions; this is
  * the single place that knows the on-disk layout. At 100 TB these would be
  * partitioned/bucketed catalog tables — the loader is the seam where that
  * swap happens without touching any operator.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs whose values change the schema parquet inference
    * returns for the same file.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** Inferred schemas by (qualified path, length, modification time,
    * values of [[inferenceConfs]]). No session is held.
    */
  private val schemas =
    new ConcurrentHashMap[(String, Long, Long, Seq[String]), StructType]()

  /** The parquet file or Spark-written directory at `path`, for data
    * that is replaced, not edited in place: test tables, published
    * artifacts, model stores. The first read of each version of the path
    * (a rewrite changes its length or modification time) under each
    * value of the confs that change inference infers the schema from the
    * footer, as `spark.read.parquet` does; later reads pin that schema,
    * so they run no Spark job. Only the `StructType` is kept: every call
    * builds a fresh relation (fresh expression IDs, fresh file listing),
    * so nothing of a plan or of the data is reused.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path has no key: the unpinned read fails as Spark reports it
    val key = Option.when(fs.exists(p)) {
      val st = fs.getFileStatus(p)
      (st.getPath.toString, st.getLen, st.getModificationTime,
        inferenceConfs.map(spark.conf.get))
    }
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemas.put(_, df.schema))
        df
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts normalization — the driver's generator has shipped three
    * physical spellings across rounds, all meaning the same naive-UTC
    * instant DuckDB sees:
    *  - TIMESTAMP(NANOS), which Spark has no native type for: read as a
    *    nanos long and truncate to microseconds (the truncation DuckDB
    *    applies casting ns → its µs TIMESTAMP);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers as
    *    TIMESTAMP_NTZ: cast to TIMESTAMP — with the session pinned to UTC
    *    (Graft.session) the instant is unchanged and every unix-epoch /
    *    to_date call site keeps working;
    *  - native µs TIMESTAMP (tools.ScaleGen output): pass through.
    * The nanos-as-long read needs `spark.sql.legacy.parquet.nanosAsLong`,
    * which [[Graft.session]] sets once; this loader writes no conf.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Bucketed gold layout — the 100 TB swap this loader seam exists for:
    * fact tables written bucketed (and per-bucket sorted) on their join
    * key join WITHOUT either side shuffling — the exchange that dominates
    * fact-fact join cost at scale simply disappears from the plan
    * (BucketSpec asserts). Bucket counts must match across co-joined
    * tables.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Date/key-partitioned gold layout — the other half of the 100 TB
    * storage story: a time-partitioned fact table lets any query with a
    * partition-key predicate skip whole directories (partition pruning —
    * the scan's PartitionFilters, distinct from parquet row-group
    * PushedFilters). The backfill upsert and the dashboard date-range
    * queries both become single-partition touches. BucketSpec asserts the
    * pruned plan.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Catalog registration (S12; the reference's
    * `generate_schema_and_tables` — database/schema.py:119-131 — creates
    * its schemas/tables idempotently at startup). Registers every table as
    * a session temp view so `spark.sql("SELECT ... FROM orders")` is a
    * first-class entry point alongside the function surface. Idempotent:
    * re-registering replaces each view with the same definition, a no-op
    * like the reference's IF NOT EXISTS DDL. `events` goes through
    * [[events]] so the nanos timestamp quirk is handled in SQL too.
    */
  def registerAll(s: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(s, dir) else load(s, dir, n)
      df.createOrReplaceTempView(n)
    }
}
