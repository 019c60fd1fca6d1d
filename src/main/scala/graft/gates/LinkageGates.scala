package graft
package gates

/** The gates whose plans call [[graft.ops.Linkage]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object LinkageGates {
  val all: Seq[Gate] = Seq(
    // cross-table record linkage: nation-blocked candidates, normalized
    // levenshtein score, best supplier per customer above 0.65
    Gate("q_record_linkage", (s, d) => graft.ops.Linkage.linkRecords(
      Tables.customer(s, d), Tables.supplier(s, d),
      "c_custkey", "s_suppkey", "c_nationkey", "s_nationkey",
      "c_name", "s_name", threshold = 0.65))(
      """WITH c AS (SELECT c_custkey, c_nationkey, c_name FROM customer),
        |s AS (SELECT s_suppkey, s_nationkey, s_name FROM supplier),
        |p AS (SELECT c_custkey, s_suppkey,
        |        round(1.0 - CAST(levenshtein(c_name, s_name) AS DOUBLE) /
        |          CAST(greatest(len(c_name), len(s_name)) AS DOUBLE), 6)
        |          AS sim
        |      FROM c JOIN s ON s_nationkey = c_nationkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |        ORDER BY sim DESC, s_suppkey) AS rk
        |      FROM p WHERE sim >= 0.65)
        |SELECT c_custkey, s_suppkey, sim FROM r WHERE rk = 1
        |ORDER BY c_custkey""".stripMargin),
  )
}
