package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates.Gates

/** Driver contract: every gate's plan and its oracle SQL, by name, both
  * derived from the one registry in [[graft.gates.Gates]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    queries("q_funnel")(spark, d)
  }

  /** Every gate's plan. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.byName.map { case (n, g) => n -> g.plan }

  /** The DuckDB oracle SQL of every gate that has one, built on first use:
    * loading the plans forces no SQL.
    */
  lazy val oracleSql: Map[String, String] =
    Gates.byName.flatMap { case (n, g) => g.oracle.map(n -> _) }
}
