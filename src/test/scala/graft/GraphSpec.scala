package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Hand-computed PageRank contracts (the closed-form values the unrolled
  * DuckDB oracle replays but doesn't derive).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: a 3-cycle is a fixed point at rank 1.0") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(e, "src", "dst", iterations = 3).collect()
    assert(out.length === 3)
    assert(out.forall(_.getAs[Double]("rank") === 1.0))
  }

  test("pageRank: star-into-chain hand computation, 3 rounds") {
    // 1→2, 3→2, 2→4: after round 1 ranks (0.15, 1.85, 0.15, 1.0);
    // round 2 (0.15, 0.405, 0.15, 1.7225); round 3 in(4) = 0.405 →
    // 0.15 + 0.85·0.405 = 0.49425, node 2 stays 0.405
    val e = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iterations = 3).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("rank")).toMap
    assert(r(1L) === 0.15 && r(3L) === 0.15)
    assert(r(2L) === 0.405)
    assert(r(4L) === 0.49425)
  }

  test("pageRank: edge multiplicity is weighting — a doubled edge " +
    "carries double mass") {
    val e = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iterations = 1).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("rank")).toMap
    // node 1 out-degree 3 (with multiplicity): 2 pays 2/3, 3 pays 1/3
    assert(math.abs(r(2L) - (0.15 + 0.85 * 2.0 / 3.0)) < 1e-6)
    assert(math.abs(r(3L) - (0.15 + 0.85 / 3.0)) < 1e-6)
  }

  test("hits: pure star — the pointed-to node is the sole authority, " +
    "the pointers the hubs, and the state is a fixed point") {
    val e = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    for (iters <- Seq(1, 3)) {
      val r = Graph.hits(e, "src", "dst", iterations = iters).collect()
        .map(x => x.getLong(0) ->
          (x.getAs[Double]("authority"), x.getAs[Double]("hub"))).toMap
      assert(r(3L) === ((1.0, 0.0)))
      assert(r(1L) === ((0.0, 1.0)) && r(2L) === ((0.0, 1.0)))
    }
  }

  test("personalizedPageRank: mass stays in the seed's reachable set; " +
    "seed chain decays by the damping factor per hop") {
    // two disjoint chains; seeding node 1 must leave 10-11-12 at zero
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("src", "dst")
    val r = Graph.personalizedPageRank(e, "src", "dst", Seq(1L),
        iterations = 3).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("rank")).toMap
    assert(!r.contains(10L) && !r.contains(11L) && !r.contains(12L))
    // hand-computed after 3 rounds: seed 0.15; hop-1 0.85*0.15; hop-2
    // 0.85^2*0.15
    assert(r(1L) === 0.15)
    assert(r(2L) === 0.1275)
    assert(r(3L) === 0.108375)
  }

  test("itemAffinity: hand-computed jaccard, minCo floor, oversized " +
    "baskets dropped whole") {
    val b = Seq(
      // items 1,2 co-occur in baskets 10 and 20; item 3 rides basket 10
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L),
      (30L, 3L),
      // a 13-item basket must contribute NOTHING (maxBasket 12)
      (99L, 1L), (99L, 2L)
    ) ++ (100L to 110L).map(i => (99L, i))
    val df = b.toDF("bk", "it")
    val out = graft.ops.Graph.itemAffinity(df, "bk", "it",
      minCo = 2, maxBasket = 12, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("jaccard")))
    // only (1,2) reaches co >= 2; f(1)=2, f(2)=2 (basket 99 excluded)
    // -> jaccard = 2/(2+2-2) = 1.0
    assert(out === Array((1L, 2L, 2L, 1.0)))
  }

  test("orderSequenceEdges: per-order consecutive-line pairs, deduped, " +
    "no cross-order edges") {
    val li = Seq(
      (10L, 1, 100L), (10L, 2, 200L), (10L, 3, 300L),
      (10L, 2, 200L),             // full duplicate row — must not fan out
      (20L, 1, 300L), (20L, 2, 100L),
      (30L, 1, 999L)              // single-line order → no edge
    ).toDF("l_orderkey", "l_linenumber", "l_partkey")
    val e = Graph.orderSequenceEdges(li).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(e === Array((100L, 200L), (200L, 300L), (300L, 100L)).sorted)
  }

  test("triangleStats: triangle + pendant — counts, degrees, clustering") {
    // K3 on {1,2,3} plus pendant edge 3-4: nodes 1,2 have deg 2 and
    // clustering 1.0; node 3 has deg 3, one triangle, clustering 1/3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val out = Graph.triangleStats(e, "a", "b", topK = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(out === Set(
      (1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, round6(1.0 / 3.0)), (4L, 1L, 0L, 0.0)))
  }

  private def round6(x: Double): Double = math.round(x * 1e6) / 1e6

  test("assocRules: hand-computed confidence and lift, frequencies from " +
    "the same capped basket set") {
    // baskets: {a,b}, {a,b}, {a,c} → freq a=3, b=2, c=1, N=3
    // a→b: conf 2/3, lift 2·3/(3·2)=1; b→a: conf 1, lift 1
    // a→c: conf 1/3, lift 1; c→a: conf 1, lift 1
    val tx = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L)).toDF("bk", "it")
    val out = Graph.assocRules(tx, "bk", "it", minCo = 1,
      maxBasket = 12, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(out === Set(
      (10L, 20L, 2L, 0.666667, 1.0), (20L, 10L, 2L, 1.0, 1.0),
      (10L, 30L, 1L, 0.333333, 1.0), (30L, 10L, 1L, 1.0, 1.0)))
  }

  test("bfsHops: exact hop distances within the round budget, " +
    "unreachable-in-k nodes absent, min over converging paths") {
    // path 1→2→3→4 plus shortcut 1→3: hops(3) = 1 via the shortcut
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("s", "t")
    val out = Graph.bfsHops(e, "s", "t", seeds = Seq(1L), maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    val short = Graph.bfsHops(e, "s", "t", seeds = Seq(1L), maxHops = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(short === Map(1L -> 0L, 2L -> 1L, 3L -> 1L),
      "node 4 is 2 hops out and must be absent at maxHops = 1")
  }

  test("labelPropagation: two cliques bridged by one edge keep distinct " +
    "min-node communities; sizes are per final label") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val out = Graph.labelPropagation(e, "a", "b", rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byNode = out.map(t => t._1 -> t._2).toMap
    // left clique converges to its minimum label; right clique is
    // uniform too (label 3 arrives through the bridge under the
    // synchronous min-tie-break schedule) but does NOT merge with left
    assert(Set(1L, 2L, 3L).map(byNode) === Set(1L))
    assert(Set(10L, 11L, 12L).map(byNode).size === 1)
    assert(byNode(10L) !== byNode(1L))
    // community_size is consistent with the label histogram
    val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(out.forall(t => sizes(t._2) === t._3.toInt))
  }

  test("modularity: textbook 0.5 on two perfectly split triangles, " +
    "exactly 0 for the everything-in-one-community partition") {
    // two disconnected triangles: m = 6; each community e_c = 3,
    // d_c = 6 → Q = 2 · (3/6 − (6/12)²) = 0.5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val split = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("node", "label")
    val out = Graph.modularity(e, "a", "b", split).collect()
    assert(out.length === 2)
    assert(out.forall(_.getAs[Double]("q_modularity") === 0.5))
    assert(out.forall(_.getAs[Double]("q_contrib") === 0.25))
    assert(out.forall(_.getAs[Long]("e_in") === 3L))
    assert(out.forall(_.getAs[Long]("d_tot") === 6L))
    // the trivial one-community partition scores exactly 0
    val one = split.select(col("node"), lit(1L).as("label"))
    val triv = Graph.modularity(e, "a", "b", one).collect()
    assert(triv.length === 1)
    assert(triv.head.getAs[Double]("q_modularity") === 0.0)
    // duplicate + reversed + self-loop edges normalize away
    val messy = e.unionAll(Seq((2L, 1L), (3L, 3L)).toDF("a", "b"))
    val norm = Graph.modularity(messy, "a", "b", split).collect()
    assert(norm.map(_.getAs[Double]("q_modularity")).toSeq ===
      out.map(_.getAs[Double]("q_modularity")).toSeq)
  }

  test("louvainLocalMove: one direction sweep repatriates a " +
    "mislabeled node and strictly improves Q; an optimal partition " +
    "is a fixed point") {
    // two disconnected triangles, node 10 mislabeled into the left
    // community: Q = 3/6 − (8/12)² + 1/6 − (4/12)² = 1/9
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L),
      (11L, 10L), (12L, 10L)).toDF("node", "label")
    val q0 = Graph.modularity(e, "a", "b", bad).collect()
      .head.getAs[Double]("q_modularity")
    // rounds = 2 is one full sweep: down-or-stay then up-or-stay —
    // node 10 (label 1 → 10, an upward move) repatriates in round 2
    val moved = Graph.louvainLocalMove(e, "a", "b", bad, rounds = 2)
    val byNode = moved.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 10's gain scores: move S(10) = 12·2 − 2·4 = 16 beats
    // stay S(1) = 12·0 − 2·(8−2) = −12; everyone else stays
    assert(byNode(10L) === 10L)
    assert(Set(1L, 2L, 3L).map(byNode) === Set(1L))
    assert(Set(10L, 11L, 12L).map(byNode) === Set(10L))
    val q1 = Graph.modularity(e, "a", "b", moved).collect()
      .head.getAs[Double]("q_modularity")
    assert(q0 === math.round(1.0 / 9.0 * 1e6) / 1e6)
    assert(q1 === 0.5, "perfect split is textbook Q = 0.5")
    assert(q1 > q0, "the move sweep must strictly improve Q")
    // the optimal split is a fixed point of a further full sweep
    val again = Graph.louvainLocalMove(e, "a", "b", moved, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === byNode)
    // LPA's already-optimal bridged-clique partition is preserved too
    // (stay score 14·2 − 3·(7−3) = 16 beats cross-bridge −7 at node 3)
    val br = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val lpa = Graph.labelPropagation(br, "a", "b", rounds = 3)
    val qb0 = Graph.modularity(br, "a", "b", lpa).collect()
      .head.getAs[Double]("q_modularity")
    val qb1 = Graph.modularity(br, "a", "b",
      Graph.louvainLocalMove(br, "a", "b", lpa, rounds = 2)).collect()
      .head.getAs[Double]("q_modularity")
    assert(qb1 >= qb0, "local moves must not degrade an optimal split")
  }

  test("louvain publish -> consume: the phase-1 assignment survives the " +
    "saveModel/loadModel parquet round-trip and phase 2 rides it " +
    "unchanged") {
    import graft.ops.Models
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val lab = Graph.louvainLocalMove(e, "a", "b",
      Graph.labelPropagation(e, "a", "b", rounds = 3), rounds = 2)
    val path = tempDir("louvain_pub_spec_").toString
    Models.saveModel(lab, path)
    val loaded = Models.loadModel(spark, path)
    val asMap = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(asMap(loaded) === asMap(lab),
      "two-long parameter rows must round-trip losslessly")
    // phase 2 on the LOADED table = phase 2 on the live lineage
    assert(asMap(Graph.louvainCoarseMove(e, "a", "b", loaded,
      rounds = 2)) ===
      asMap(Graph.louvainCoarseMove(e, "a", "b", lab, rounds = 2)))
  }

  test("louvainMultiLevel: q_num strictly improves level over level " +
    "until the stall, the stall row stays visible, and an optimal " +
    "input stops after one level") {
    // two K4s bridged to a K3: singleton-start coarsening needs >1
    // level to assemble the K4s (pairs merge, then pairs-of-pairs)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L), (10L, 11L), (10L, 12L), (11L, 12L), (4L, 5L))
      .toDF("a", "b")
    val singletons = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct()
      .withColumn("label", col("node"))
    val out = Graph.louvainMultiLevel(e, "a", "b", singletons,
      maxLevels = 4).collect()
    val qs = out.map(r => r.getAs[Int]("level") -> r.getAs[Long]("q_num"))
      .sortBy(_._1)
    assert(qs.head._1 === 0 && qs.length >= 2)
    // every consecutive pair except possibly the last strictly improves
    val diffs = qs.sliding(2).map { case Array(a, b) => b._2 - a._2 }.toSeq
    assert(diffs.dropRight(1).forall(_ > 0),
      "all pre-stall levels must strictly improve the exact-int Q")
    // the run ends at the budget or at a visible non-improving row
    assert(qs.length === 5 || diffs.last <= 0)
    // the final level's Q must beat the input partition's
    assert(qs.maxBy(_._1)._2 > qs.head._2 || diffs.last <= 0)
    // an already-optimal partition stalls immediately: exactly level 0
    // + the one stall level
    val opt = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L),
      (6L, 5L), (7L, 5L), (8L, 5L), (10L, 10L), (11L, 10L),
      (12L, 10L)).toDF("node", "label")
    val fix = Graph.louvainMultiLevel(e, "a", "b", opt, maxLevels = 4)
      .collect().map(r => (r.getAs[Int]("level"), r.getAs[Long]("q_num")))
    assert(fix.length === 2 && fix(0)._2 === fix(1)._2,
      "a fixed-point input must stop after one non-improving level")
  }

  test("louvainMultiLevelAssign: the final map assembles the planted " +
    "communities, matches the summary's accepted level, and survives " +
    "a parquet round-trip") {
    // same two-K4s + K3 fixture as the louvainMultiLevel test
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L), (10L, 11L), (10L, 12L), (11L, 12L), (4L, 5L))
      .toDF("a", "b")
    val singletons = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct()
      .withColumn("label", col("node"))
    val asg = Graph.louvainMultiLevelAssign(e, "a", "b", singletons,
      maxLevels = 4).collect()
    val byNode = asg.map(r => r.getAs[Long]("node") ->
      r.getAs[Long]("community")).toMap
    // every node assigned exactly once
    assert(byNode.size === 11)
    // the planted structures assemble: each K4 and the K3 are single
    // communities, and the two K4s (bridged by one edge) stay distinct
    assert(Set(1L, 2L, 3L, 4L).map(byNode).size === 1)
    assert(Set(5L, 6L, 7L, 8L).map(byNode).size === 1)
    assert(Set(10L, 11L, 12L).map(byNode).size === 1)
    assert(byNode(1L) !== byNode(5L))
    assert(byNode(1L) !== byNode(10L))
    // community_size agrees with the map itself
    val sizes = asg.map(r => r.getAs[Long]("community") ->
      r.getAs[Long]("community_size")).toMap
    assert(sizes(byNode(1L)) === 4L && sizes(byNode(10L)) === 3L)
    // the accepted assignment reproduces the summary's best q_num:
    // scoring the map must equal the max strictly-improving-prefix row
    val summaries = Graph.louvainMultiLevel(e, "a", "b", singletons,
      maxLevels = 4).collect()
      .map(r => r.getAs[Int]("level") -> r.getAs[Long]("q_num"))
      .sortBy(_._1)
    val acceptedQ = summaries.map(_._2).max
    val rescored = Graph.louvainMultiLevel(e, "a", "b",
      asg.toSeq.map(r => (r.getAs[Long]("node"),
        r.getAs[Long]("community"))).toDF("node", "label"),
      maxLevels = 1).collect().map(_.getAs[Long]("q_num"))
    assert(rescored.head === acceptedQ,
      "level-0 score of the published map must equal the best level")
    // parquet round-trip: the published table reads back identical
    val dir = tempDir("graft_assign_rt_").toString
    graft.ops.Models.saveModel(Graph.louvainMultiLevelAssign(e, "a",
      "b", singletons, maxLevels = 4), dir)
    val back = graft.ops.Models.loadModel(spark, dir)
      .orderBy("node").collect().map(_.toString).toSeq
    assert(back === asg.map(_.toString).toSeq)
  }

  test("kCore: a 2-core peel strips the pendant chain and keeps the " +
    "triangle; a K4 survives its own 3-core intact") {
    // triangle {1,2,3} + pendant chain 3-4-5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val core2 = Graph.kCore(e, "a", "b", k = 2, rounds = 3).collect()
    assert(core2.map(r => (r.getAs[Long]("node"),
      r.getAs[Long]("core_degree"))).toSeq ===
      Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      "5 peels first, then 4; the triangle's degrees settle at 2")
    // K4: every node has degree 3, nothing peels at k = 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val core3 = Graph.kCore(k4, "a", "b", k = 3, rounds = 2).collect()
    assert(core3.length === 4)
    assert(core3.forall(_.getAs[Long]("core_degree") === 3L))
    // and the triangle is EMPTY at k = 3 (no node reaches degree 3)
    assert(Graph.kCore(e, "a", "b", k = 3, rounds = 2).count() === 0L)
  }

  test("assortativity: a star is perfectly disassortative (-1), a " +
    "regular ring has no degree variance (NULL)") {
    // K1,3: every edge joins degree 3 to degree 1 → r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r = Graph.assortativity(star, "a", "b").head
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Double]("mean_edge_degree") === 2.0)
    assert(r.getAs[Double]("assortativity") === -1.0)
    // 4-cycle: all degrees 2 → zero variance → undefined, NULL not NaN
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val rr = Graph.assortativity(ring, "a", "b").head
    assert(rr.isNullAt(rr.fieldIndex("assortativity")))
    // duplicate/reversed/self-loop edges normalize away first
    val messy = star.unionAll(Seq((1L, 0L), (2L, 2L)).toDF("a", "b"))
    assert(Graph.assortativity(messy, "a", "b").head
      .getAs[Double]("assortativity") === -1.0)
  }

  test("louvainCoarseMove: a community-level move merges split halves " +
    "a singleton-community view scores apart; optimal is a fixed point") {
    // K4 {1,2,3,4} mislabeled as two pairs (labels 1 and 4 — super-
    // node 4 merges DOWN into 1 in the first round) + a distant K3.
    // Split Q = 0 + 0 + 2/9 = 0.2222; merged Q = 0.4444
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val split = Seq((1L, 1L), (2L, 1L), (3L, 4L), (4L, 4L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("node", "label")
    val q0 = Graph.modularity(e, "a", "b", split).collect()
      .head.getAs[Double]("q_modularity")
    val moved = Graph.louvainCoarseMove(e, "a", "b", split, rounds = 2)
    val byNode = moved.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L, 4L).map(byNode).size === 1,
      "the super-level move must merge the K4 halves in one sweep")
    assert(Set(10L, 11L, 12L).map(byNode).size === 1)
    assert(byNode(10L) !== byNode(1L))
    val q1 = Graph.modularity(e, "a", "b", moved).collect()
      .head.getAs[Double]("q_modularity")
    assert(q0 === 0.222222 && q1 === 0.444444)
    // the merged optimum is a fixed point of another coarse sweep
    val again = Graph.louvainCoarseMove(e, "a", "b", moved, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again.values.toSet.size === byNode.values.toSet.size)
  }

  test("kTruss: the 3-truss keeps triangles and peels bridges the " +
    "3-core would keep; a K4 is its own 4-truss") {
    // two triangles joined by a bridge 3-10: every node has degree 2+
    // (3 and 10 have 3), so a 2-core keeps the BRIDGE — the 3-truss
    // peels it (the bridge closes no triangle)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val t3 = Graph.kTruss(e, "a", "b", k = 3, rounds = 2).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("support")))
    assert(t3.map(t => (t._1, t._2)).toSet ===
      Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
        (11L, 12L)), "the bridge 3-10 must peel")
    assert(t3.forall(_._3 === 1L), "each kept edge closes one triangle")
    // K4: every edge closes 2 triangles → survives its own 4-truss
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val t4 = Graph.kTruss(k4, "a", "b", k = 4, rounds = 2).collect()
    assert(t4.length === 6)
    assert(t4.forall(_.getAs[Long]("support") === 2L))
    // the bowtie graph dies at k = 4: every edge has support 1
    assert(Graph.kTruss(e, "a", "b", k = 4, rounds = 2).count() === 0L)
  }

  test("kTruss: published support is recomputed over the FINAL edge " +
    "set, not the last round's pre-peel count") {
    // K4 {1,2,3,4} + pendant triangle {3,4,5}: pre-peel (3,4) closes 3
    // triangles, but the 4-truss peels (3,5)/(4,5) in round 1 — the
    // honest within-truss support of (3,4) is 2, not 3
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 5L)).toDF("a", "b")
    val t4 = Graph.kTruss(e, "a", "b", k = 4, rounds = 1).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("support")).toMap
    assert(t4.keySet === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)), "only the K4 survives the 4-truss peel")
    assert(t4((3L, 4L)) === 2L,
      "support must count triangles within the SURVIVING set only")
    assert(t4.values.forall(_ === 2L))
  }

  test("louvain moves retain isolated nodes and edge-less communities " +
    "(LEFT degree joins / LEFT map-back)") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    // node 99 is in the assignment but touches no edge: it must come
    // back with its own label instead of silently vanishing
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (99L, 99L))
      .toDF("node", "label")
    val local = Graph.louvainLocalMove(e, "a", "b", comm, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 99L -> 99L))
    val coarse = Graph.louvainCoarseMove(e, "a", "b", comm, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(coarse.keySet === Set(1L, 2L, 3L, 99L))
    assert(coarse(99L) === 99L)
    assert(Set(1L, 2L, 3L).map(coarse).size === 1)
  }
}
