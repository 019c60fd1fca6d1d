package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named gate: the DataFrame plan the engine runs over an sf dir, and
  * the DuckDB-equivalent ANSI SQL its result is hash-compared against
  * (`tools/check.py`). Column names AND row order must match exactly:
  * every plan ends in a total ORDER BY its oracle replicates. The oracle
  * is by-name, so declaring a gate builds no SQL.
  */
final class Gate private (val name: String, val plan: Gate.Plan,
                          sql: () => Option[String]) {
  /** The oracle SQL, built on each call; None for a rows-only gate. */
  def oracle: Option[String] = sql()
}

object Gate {
  type Plan = (SparkSession, String) => DataFrame

  def apply(name: String, plan: Plan)(oracle: => String): Gate =
    new Gate(name, plan, () => Some(oracle))

  /** A gate whose result no SQL can reproduce exactly (`reason` says why):
    * the oracle check only asks that it returns rows.
    */
  def rowsOnly(name: String, reason: String)(plan: Plan): Gate = {
    require(reason.nonEmpty, s"rows-only gate $name must say why")
    new Gate(name, plan, () => None)
  }
}

/** The gate registry: every gate, declared once in its family's file. */
object Gates {
  val all: Seq[Gate] = Seq(RelationalGates.all, CommerceGates.all,
    WindowsGates.all, TemporalGates.all, EventsGates.all, StatsGates.all,
    DriftGates.all, FeaturesGates.all, TextGates.all, DedupGates.all,
    SimilarityGates.all, LinkageGates.all, CurationGates.all,
    ModelsGates.all, GraphGates.all, MultimodalGates.all, LayoutGates.all,
    EtlGates.all, StreamsGates.all).flatten

  val byName: Map[String, Gate] = index(all)

  /** `gates` by name; a name declared twice fails. */
  def index(gates: Seq[Gate]): Map[String, Gate] =
    gates.foldLeft(Map.empty[String, Gate]) { (m, g) =>
      require(!m.contains(g.name), s"gate ${g.name} is declared twice")
      m.updated(g.name, g)
    }
}
