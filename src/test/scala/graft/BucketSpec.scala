package graft

import org.apache.spark.sql.functions._

/** The bucketing scale path: a fact-fact join between tables bucketed on
  * their join keys must execute with NO shuffle exchange on either side —
  * this is the plan shape that makes repeated 100 TB joins affordable, and
  * the swap the `Tables` loader seam exists for.
  */
class BucketSpec extends SparkSpec {

  test("bucketed orders ⋈ lineitem: no Exchange in the join plan") {
    Tables.writeBucketed(Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderstatus"),
      "orders_bucketed", "o_orderkey", 4)
    Tables.writeBucketed(Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity"),
      "lineitem_bucketed", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the join must pick sort-merge — the point is
      // that bucketing removes the exchanges a shuffle join would need
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_bucketed")
        .join(spark.table("lineitem_bucketed"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(sum("l_quantity").as("qty"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1200))
      // neither join side shuffles: the ONLY exchange in the whole plan is
      // the groupBy's (on o_orderstatus) — no hashpartitioning on either
      // join key anywhere
      assert(!p.contains("hashpartitioning(o_orderkey") &&
        !p.contains("hashpartitioning(l_orderkey"), p.take(1500))
      // and the join result is right
      val rows = joined.collect()
      assert(rows.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }

  test("date-partitioned gold: a partition-key predicate prunes the scan") {
    val dir = tempDir("graft_part").toString + "/events_gold"
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
    Tables.writePartitioned(ev, dir, "day")
    val nDays = ev.select("day").distinct().count()
    assert(nDays > 1, "need multiple partitions for pruning to mean anything")
    val someDay = ev.agg(min(col("day"))).head.getDate(0).toString
    val q = spark.read.parquet(dir).filter(col("day") === someDay)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // the day predicate must land in PartitionFilters (directory pruning),
    // NOT just the parquet row-group PushedFilters
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"), scan.take(1200))
    // and the pruned read returns exactly that day's (non-empty) rows
    val n = q.count()
    assert(n > 0 && n === ev.filter(col("day") === someDay).count())
  }

  test("ORC gold: round-trip with filter pushdown and column pruning") {
    // the second columnar gold format Spark ships natively — the loader
    // seam must not be parquet-only, and the scan contract (predicates
    // into PushedFilters, projection into a narrow ReadSchema) must hold
    // identically so a format swap keeps the 100 TB scan behavior
    val dir = tempDir("graft_orc").toString + "/orders_gold"
    val orders = Tables.orders(spark, sfDir)
    orders.write.mode("overwrite").orc(dir)
    val q = spark.read.orc(dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") &&
      scan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("o_orderstatus"), scan.take(1200))
    // projection pruned to exactly the selected + filter columns
    val readSchema =
      scan.replaceAll("(?s).*ReadSchema: struct<([^>]*)>.*", "$1")
    assert(readSchema.contains("o_orderkey") &&
      readSchema.contains("o_totalprice") &&
      !readSchema.contains("o_comment"), scan.take(1200))
    // values survive the round trip exactly
    assert(q.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
    assert(q.agg(sum(col("o_totalprice"))).head.getDouble(0) ===
      orders.filter(col("o_orderstatus") === "F")
        .agg(sum(col("o_totalprice"))).head.getDouble(0))
  }
}
