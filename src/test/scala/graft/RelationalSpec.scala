package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("every declared query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query has matching column names with its oracle declaration") {
    // oracleSql is free-form SQL; at minimum every oracle entry must point at
    // an existing query.
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracleSql for unknown query $k")
    }
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ===
      Set("q_approx_stats"), "q_approx_stats must be the only rows-only gate")
  }

  test("funnel keeps customers with no orders (left join preserved)") {
    val customer = Seq((1L, 10), (2L, 10)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((10, "X")).toDF("n_nationkey", "n_name")
    val orders = Seq((100L, 1L, "F")).toDF("o_orderkey", "o_custkey", "o_orderstatus")
    val lineitem = Seq((100L, 1)).toDF("l_orderkey", "l_linenumber")
    val out = Relational.funnel(customer, orders, lineitem, nation).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_customers") == 2) // customer 2 still counted
    assert(r.getAs[Long]("n_orders") == 1)
    assert(r.getAs[Long]("n_fulfilled") == 1)
  }

  test("antiJoinNewRows keeps only unseen keys (loader dedup C4)") {
    val incoming = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "a", 1.0))
      .toDF("id", "k", "v")
    val existing = Seq((99, "a", 1.0)).toDF("id", "k", "v")
    val out = Relational.antiJoinNewRows(incoming, existing, Seq("k", "v"))
    assert(out.select("id").as[Int].collect().sorted.toSeq == Seq(2))
  }

  test("antiJoinNewRows is idempotent: loading twice adds nothing") {
    val batch = Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "k", "v")
    val afterFirst = batch // gold after first load
    val second = Relational.antiJoinNewRows(batch, afterFirst, Seq("k", "v"))
    assert(second.count() == 0)
  }

  test("dedupFirstPerKey keeps exactly the min-id row per key") {
    val ev = Seq(
      (5L, 1L, "click", 1.0), (3L, 1L, "click", 9.0), (7L, 2L, "view", 2.0)
    ).toDF("event_id", "user_id", "event_type", "value")
    val out = Relational.dedupFirstPerKey(ev).collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(3L, 7L))
    assert(out.head.getAs[Double]("value") == 9.0)
  }

  test("leftJoinStatusFilter degrades to inner like the reference (J3)") {
    val orders = Seq((1L, "P1"), (2L, "P2")).toDF("o_orderkey", "o_orderpriority")
    val li = Seq((1L, "R")).toDF("l_orderkey", "l_returnflag")
    val out = Relational.leftJoinStatusFilter(orders, li).collect()
    // order 2 has no lineitem -> null returnflag -> dropped by the filter
    assert(out.map(_.getString(0)).toSeq == Seq("P1"))
  }

  test("approxStats: sketch estimates land inside their documented error " +
    "bounds against the exact values in the same row") {
    val rows = Relational.approxStats(Tables.events(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exactU = r.getAs[Long]("exact_users").toDouble
      val approxU = r.getAs[Long]("approx_users").toDouble
      // HLL++ default rsd is 5%; allow 3 sigma
      assert(math.abs(approxU - exactU) <= math.max(3.0, 0.15 * exactU),
        s"${r.getString(0)}: approx $approxU vs exact $exactU")
      val exactM = r.getAs[Double]("exact_median")
      val approxM = r.getAs[Double]("approx_median")
      // accuracy 10000 -> the sketch quantile sits within 1e-4 rank error;
      // translate to a loose value bound via the observed spread
      assert(math.abs(approxM - exactM) <= 0.05 * math.max(1.0, exactM),
        s"${r.getString(0)}: approx median $approxM vs exact $exactM")
    }
  }

  test("skewReport: hand-computed distribution stats incl. entropy") {
    import spark.implicits._
    // keys: a(1 row), b(1), c(2) -> H = log2(4) - (2*log2(2))/4 = 1.5
    val df = Seq("a", "b", "c", "c").toDF("k")
    val r = graft.ops.Relational.skewReport(df, "k").head
    assert(r.getAs[Long]("n_keys") === 3L)
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("max_key_rows") === 2L)
    assert(r.getAs[Double]("top_key_share") === 0.5)
    assert(r.getAs[Double]("key_entropy_bits") === 1.5)
    assert(math.abs(r.getAs[Double]("uniform_entropy_bits")
      - math.log(3.0) / math.log(2.0)) < 1e-5)
  }

  test("skyline: weak dominance filters, duplicates of a frontier point " +
    "all survive, interior points drop") {
    import spark.implicits._
    val pts = Seq((1, 5.0, 1L), (2, 3.0, 3L), (3, 1.0, 5L), (4, 4.0, 2L),
      (5, 2.0, 2L),            // dominated by (3.0, 3)
      (6, 3.0, 3L),            // duplicate of the (3.0, 3) frontier point
      (7, 3.0, 1L)             // same x as frontier, lower y → dominated
    ).toDF("id", "x", "y")
    val out = graft.ops.Relational.skyline(pts, "x", "y")
      .select("id").as[Int].collect().sorted
    assert(out === Array(1, 2, 3, 4, 6))
  }

  test("bloomSemiJoin: row-identical to the plain semi-join, the bloom " +
    "screen sits in the plan, and disjoint probes are pruned pre-join") {
    import spark.implicits._
    val probe = (1L to 1000L).map(i => (i, s"p$i")).toDF("k", "pv")
    val build = Seq(3L, 14L, 159L, 2653L).toDF("bk")
    val got = graft.ops.Relational
      .bloomSemiJoin(probe, build, "k", "bk", estimatedItems = 100L)
    // exact semantics: the exact semi-join removes any false positives
    val want = probe.join(build.select(col("bk").as("k")), Seq("k"),
      "left_semi")
    assert(got.select("k").as[Long].collect().sorted ===
      want.select("k").as[Long].collect().sorted)
    // the screen is really in the executed plan: a LOCAL relation gets
    // constant-folded away (fine), so assert on the parquet-backed gate
    val gatePlan = SparkEntry.queries("q_bloom_semi")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(gatePlan.contains("might_contain"),
      "bloom pre-filter must survive into the gate's physical plan")
    // pruning: keys far outside the build set fail the bloom and never
    // reach the join — count the pre-join filter survivors directly
    val survivors = probe.filter(call_function("bloom_might_contain",
      lit(build.agg(expr("bloom_agg(xxhash64(bk), 100L)"))
        .head.getAs[Array[Byte]](0)),
      expr("xxhash64(k)"))).count()
    assert(survivors < 100L,
      s"bloom should prune most of the 1000 disjoint keys, kept $survivors")
  }

  test("rrfFuse: both-list ids beat single-list ids at similar ranks, " +
    "scores are the closed 1/(kf+r) sums, coverage counts lists") {
    import spark.implicits._
    // doc 10 ranks 2nd in BOTH lists; docs 20/30 are each a rank-1 in
    // one list only (an exact score tie); doc 40 trails in A
    val a = Seq((10L, 2), (20L, 1), (40L, 3)).toDF("id", "rank")
    val b = Seq((30L, 1), (10L, 2)).toDF("id", "rank")
    val out = graft.ops.Relational.rrfFuse(Seq(a, b), "id", kf = 60,
      topK = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.map(_._2).toSeq === Seq(10L, 20L, 30L, 40L),
      "dual coverage at rank 2+2 beats any single-list rank-1")
    assert(out.map(_._3).toSeq === Seq(2, 1, 1, 1))
    def s(rs: Int*) = math.rint(rs.map(r => 1.0 / (60 + r)).sum * 1e6) / 1e6
    assert(out.map(_._4).toSeq ===
      Seq(s(2, 2), s(1), s(1), s(3)))
    // equal-score tie (two single-list rank-1s) breaks on id: 20 < 30
    assert(out(1)._2 < out(2)._2 && out(1)._4 === out(2)._4)
  }
}
