package graft
package gates

/** The gates whose plans call [[graft.ops.Layout]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object LayoutGates {
  val all: Seq[Gate] = Seq(
    // Z-order layout evidence: Morton-key range buckets of lineitem on
    // (part, supp), per-bucket zone-map min/max spans
    Gate("q_zorder", (s, d) => graft.ops.Layout.zorderStats(
      Tables.lineitem(s, d), "l_partkey", "l_suppkey",
      bits = 16, buckets = 16))(
      s"""WITH k AS (
      |  SELECT l_partkey AS x, l_suppkey AS y,
      |    CAST(${mortonSql("l_partkey", "l_suppkey", 16)} AS DOUBLE) AS z
      |  FROM lineitem
      |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
      |e AS (SELECT quantile_cont(z,
      |        [${(1 until 16).map(_.toDouble / 16).mkString(", ")}]) AS q
      |      FROM k),
      |b AS (SELECT CAST(1 + ${(1 to 15).map(i =>
             s"(CASE WHEN z >= q[$i] THEN 1 ELSE 0 END)")
             .mkString(" + ")} AS INTEGER) AS bucket, x, y
      |      FROM k CROSS JOIN e)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |  min(x) AS x_min, max(x) AS x_max,
      |  min(y) AS y_min, max(y) AS y_max
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
  )

  /** The q_zorder oracle's Morton interleave, generated term-by-term so
    * the SQL is the same bit arithmetic Layout.mortonKey folds. */
  private def mortonSql(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + " +
        s"((($y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
}
