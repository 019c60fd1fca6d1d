package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused), built
  * through the library's own entry point so every suite also exercises
  * [[Graft.session]]'s wiring.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    Graft.session(master = Some("local[4]"), shufflePartitions = 4,
      extraConf = Map("spark.ui.enabled" -> "false"))

  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under java.io.tmpdir whose name starts with
    * `prefix`, deleted with everything in it when the suite ends.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  /** `kernel` projected over `input` under
    * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` and then `NO_CODEGEN`,
    * with the session's setting restored afterwards. `input` must be read
    * from a file: over a local relation the optimizer folds the
    * projection by interpreted evaluation and no generated code runs.
    * Returns the compiled rows, the interpreted rows and the compiled
    * executed plan.
    */
  def inBothCodegenModes(input: DataFrame, kernel: Column)
      : (Seq[Row], Seq[Row], SparkPlan) = {
    def run(mode: String): (Seq[Row], SparkPlan) =
      withConf("spark.sql.codegen.factoryMode", mode) {
        val df = input.select(kernel)
        (df.collect().toSeq, df.queryExecution.executedPlan)
      }
    val (compiled, plan) = run("CODEGEN_ONLY")
    (compiled, run("NO_CODEGEN")._1, plan)
  }

  /** `body` with the session conf `key` set to `value`, and the session's
    * setting (or its absence) restored afterwards.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `df` written to one parquet file and read back, with its row order:
    * an input that [[inBothCodegenModes]] really compiles.
    */
  def viaParquet(df: DataFrame): DataFrame = {
    val path = tempDir("via_parquet").resolve("in.parquet").toString
    df.coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  /** The doubles `kernel` yields over `input` (NULL as None), after
    * asserting that the compiled and the interpreted run of
    * [[inBothCodegenModes]] agree bit for bit, row by row.
    */
  def agreedDoubles(input: DataFrame, kernel: Column): Seq[Option[Double]] = {
    val (compiled, interpreted, _) = inBothCodegenModes(input, kernel)
    def values(rows: Seq[Row]): Seq[Option[Double]] =
      rows.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    def bits(rows: Seq[Row]): Seq[Option[Long]] =
      values(rows).map(_.map(java.lang.Double.doubleToRawLongBits))
    assert(bits(compiled) === bits(interpreted),
      s"$kernel: compiled ${values(compiled)} vs interpreted " +
        s"${values(interpreted)}")
    values(compiled)
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => Artifacts.deleteRecursively(d))
    finally super.afterAll()
}

/** Shared rows for the array kernels `cosine_sim`, `dot_prod` and
  * `l2_sq`.
  */
object VectorEdges {

  /** An empty pair, a NaN element, a signed zero, and a signed zero
    * beside non-zero elements.
    */
  val rows: Seq[(Array[Double], Array[Double])] = Seq(
    (Array.empty[Double], Array.empty[Double]),
    (Array(Double.NaN, 1.0), Array(1.0, 1.0)),
    (Array(-0.0), Array(0.0)),
    (Array(-0.0, 3.0), Array(0.0, 4.0)))

  /** `got` against `want` with NaNs equal and -0.0 distinct from 0.0. */
  def same(got: Seq[Option[Double]], want: Seq[Double]): Boolean =
    got.map(_.map(java.lang.Double.doubleToLongBits)) ==
      want.map(w => Some(java.lang.Double.doubleToLongBits(w)))

  /** One row of two dense vectors (array<double> with containsNull =
    * false) behind a local checkpoint, so the optimizer cannot fold the
    * projection, and the element pairs it holds.
    */
  def dense(spark: SparkSession): (DataFrame, Seq[(Double, Double)]) = {
    import spark.implicits._
    val a = Array.tabulate(8)(i => math.sin(i + 1.0))
    val b = Array.tabulate(8)(i => math.cos(i * 2.0))
    val df = Seq((a, b)).toDF("a", "b").localCheckpoint()
    assert(df.schema.fields.forall(
      _.dataType == ArrayType(DoubleType, containsNull = false)))
    (df, a.toSeq.zip(b))
  }
}
