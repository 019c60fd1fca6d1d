package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the link-structure reading of the
  * same pair frames the dedup family produces (near-dup pairs, co-occurrence
  * pairs, session transitions). Complements [[Dedup]]'s connected
  * components: components answer "which nodes belong together", PageRank
  * answers "which nodes matter".
  */
object Graph {

  /** Fixed-iteration PageRank (the classic unnormalized power-iteration
    * form: rank₀ = 1, rankₜ₊₁ = (1−d) + d·Σ_in rank/outdeg — the Spark/
    * Pregel example recursion; dangling mass is dropped, not
    * redistributed, which keeps every step a pure edge equi-join and is
    * the standard simplification for fixed-round scoring). This is
    * [[personalizedPageRank]]'s recursion with teleport weight 1 on every
    * node: (1−d)·1.0 is exact in IEEE arithmetic, so the ranks are the
    * unpersonalized ones bit for bit.
    *
    * Scale shape: every iteration is ONE join of the edge list with the
    * |V|-row rank frame on the source id plus ONE groupBy(dst) whose sums
    * collapse map-side — shuffle volume is O(|E|) per round, keyed the
    * same way every round. The rounds run in [[Par.iterate]], so round
    * N's plan never replays rounds 1..N−1. Edge multiplicity is
    * intentional weighting (a pair that co-occurs twice carries twice
    * the mass).
    *
    * Determinism: per-iteration ranks are rounded to 9 decimals (both
    * engines), the published rank to 6 — distributed float-sum order
    * cannot surface at those scales ([[Relational]] gates' discipline).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               topK: Int = 20): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      "pageRank needs 1 <= iterations <= 20 (fixed-round contract)")
    teleportRanks("pageRank", edges, srcCol, dstCol, lit(1.0), iterations,
      damping, topK)
  }

  /** Personalized PageRank: [[pageRank]]'s recursion with the teleport
    * mass restricted to a SEED set — rankₜ₊₁(v) = (1−d)·[v ∈ seeds] +
    * d·Σ_in rank/outdeg, rank₀ = [v ∈ seeds] — so scores measure
    * proximity TO THE SEEDS through the link structure, not global
    * importance: the "related to these items" primitive behind
    * recommendation expansion and seed-set labeling. Same per-round
    * shape as [[pageRank]]; the seed predicate is an IN-list on the node
    * column, never a driver-side filter.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[Long], iterations: Int,
                           damping: Double = 0.85,
                           topK: Int = 20): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs a seed set")
    require(iterations >= 1 && iterations <= 20,
      "personalizedPageRank needs 1 <= iterations <= 20")
    teleportRanks("personalizedPageRank", edges, srcCol, dstCol,
      when(col("node").isin(seeds: _*), 1.0).otherwise(0.0), iterations,
      damping, topK)
  }

  /** The recursion behind [[pageRank]] and [[personalizedPageRank]]:
    * rank₀ = t(v), rankₜ₊₁ = (1−d)·t(v) + d·Σ_in rank/outdeg, with the
    * per-node teleport weight t a column over `node`. Publishes the
    * top-k positive ranks (every [[pageRank]] rank is ≥ 1−d, so the
    * filter only drops unreached nodes of a personalized walk).
    */
  private def teleportRanks(op: String, edges: DataFrame, srcCol: String,
                            dstCol: String, teleport: Column,
                            iterations: Int, damping: Double,
                            topK: Int): DataFrame = {
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    // NOTE (r16): pre-partitioning e/nodes by the per-round join keys
    // (the labelPropagation/kCore win) was A/B-measured HERE and
    // REJECTED — on this op's small rank/contrib frames AQE already
    // rewrites the per-round joins to broadcast at runtime, so the
    // upfront |E|-row exchange bought nothing and q_pagerank/q_ppr
    // regressed ~15% (OPTIMIZATION_r16.md).
    val (e, nodes) = directedGraph(edges, srcCol, dstCol)
    val outd = e.groupBy(col("__src"))
      .agg(count(lit(1)).cast("double").as("__od"))
      .localCheckpoint()
    val init = nodes.select(col("node"), teleport.as("rank"))
      .localCheckpoint()
    Par.iterate(op, iterations, init) { (rank, _) =>
      val contrib = e
        .join(rank.withColumnRenamed("node", "__src"), "__src")
        .join(outd, "__src")
        .groupBy(col("__dst"))
        .agg(sum(col("rank") / col("__od")).as("__in"))
      nodes
        .join(contrib, nodes("node") === contrib("__dst"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) * teleport +
            lit(damping) * coalesce(col("__in"), lit(0.0)), 9).as("rank"))
    }
      .where(col("rank") > 0.0)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(topK)
  }

  /** The directed set-up [[pageRank]], [[personalizedPageRank]] and
    * [[hits]] share: the edge list as (__src, __dst) longs with NULL
    * endpoints dropped, and its distinct node set, each checkpointed
    * once. No pre-partitioning — see [[teleportRanks]]' r16 note.
    */
  private def directedGraph(edges: DataFrame, srcCol: String,
                            dstCol: String): (DataFrame, DataFrame) = {
    val e = edges
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
      .localCheckpoint()
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct()
      .localCheckpoint()
    (e, nodes)
  }

  /** Fixed-iteration HITS (hubs & authorities, max-normalized): per round
    * aᵥ = Σ_{u→v} hᵤ then a ← a/max(a); hᵤ = Σ_{u→v} aᵥ then h ← h/max(h).
    * [[pageRank]]'s bipartite-taste companion: authorities are
    * pointed-to-by-good-hubs, hubs point-to-good-authorities — on a
    * product-sequence graph the "destination staples" vs the "basket
    * openers".
    *
    * Same scale shape as [[pageRank]]: each round is TWO edge equi-joins
    * (one per direction) + map-side-combined groupBys, the max is a 1-row
    * broadcast scalar, and the round's (auth, hub) frame is the one
    * [[Par.iterate]] checkpoints; the authority half feeds both the hub
    * sums and that frame within the round's one job. Per-round scores
    * round to 9 (final to 6) so distributed float-sum order cannot
    * surface.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, topK: Int = 20): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      "hits needs 1 <= iterations <= 20 (fixed-round contract)")
    val (e, nodes) = directedGraph(edges, srcCol, dstCol)
    val init = nodes
      .withColumn("auth", lit(1.0)).withColumn("hub", lit(1.0))
      .localCheckpoint()
    Par.iterate("hits", iterations, init) { (scores, _) =>
      val aRaw = e.join(scores.select(col("node").as("__src"),
            col("hub")), "__src")
        .groupBy(col("__dst")).agg(sum(col("hub")).as("__a"))
      val aFrame = nodes
        .join(aRaw, col("node") === col("__dst"), "left")
        .select(col("node"), coalesce(col("__a"), lit(0.0)).as("__a"))
      val aMax = aFrame.agg(max(col("__a")).as("__m"))
      val aNorm = aFrame.crossJoin(broadcast(aMax))
        .select(col("node"), round(col("__a") / col("__m"), 9).as("auth"))
      val hRaw = e.join(aNorm.select(col("node").as("__dst"),
            col("auth")), "__dst")
        .groupBy(col("__src")).agg(sum(col("auth")).as("__h"))
      val hFrame = nodes
        .join(hRaw, col("node") === col("__src"), "left")
        .select(col("node"), coalesce(col("__h"), lit(0.0)).as("__h"))
      val hMax = hFrame.agg(max(col("__h")).as("__m"))
      aNorm.join(
        hFrame.crossJoin(broadcast(hMax))
          .select(col("node"), round(col("__h") / col("__m"), 9)
            .as("hub")), "node")
    }
      .select(col("node"), round(col("auth"), 6).as("authority"),
        round(col("hub"), 6).as("hub"))
      .orderBy(col("authority").desc, col("node"))
      .limit(topK)
  }

  /** Market-basket item affinity: for every pair of items co-occurring in
    * a basket, the co-occurrence count and Jaccard affinity
    * co/(nₐ + n_b − co) — the item-item collaborative-filtering edge
    * list ("customers who bought X also bought Y") that [[pageRank]] /
    * [[hits]] can score downstream.
    *
    * Scale shape: pair generation is a basket-keyed self-join, so
    * fan-out is bounded by basket size squared — never corpus size — and
    * baskets larger than `maxBasket` are dropped whole (the stop-shingle
    * rule: a 10k-line clearing order would contribute 50M pairs of pure
    * noise; real affinity lives in small baskets). Per-item frequencies
    * ride a broadcast-back join; the pair aggregate collapses map-side.
    * Output: pairs with co ≥ minCo, top-k by (jaccard, co) with the pair
    * ids as the total tiebreak.
    */
  def itemAffinity(baskets: DataFrame, basketCol: String, itemCol: String,
                   minCo: Long, maxBasket: Int, topK: Int): DataFrame = {
    require(minCo >= 1 && maxBasket >= 2 && topK >= 1,
      "itemAffinity needs minCo >= 1, maxBasket >= 2, topK >= 1")
    val b = baskets
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sized = b
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))))
      .where(col("__n") <= maxBasket)
      .select(col("__b"), col("__i"))
      .localCheckpoint()
    val freq = sized.groupBy(col("__i"))
      .agg(count(lit(1)).as("__f"))
    val pairs = sized.as("a")
      .join(sized.as("b2"), col("a.__b") === col("b2.__b") &&
        col("a.__i") < col("b2.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b2.__i").as("item_b"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    pairs
      .join(freq.withColumnRenamed("__i", "item_a")
        .withColumnRenamed("__f", "__fa"), "item_a")
      .join(freq.withColumnRenamed("__i", "item_b")
        .withColumnRenamed("__f", "__fb"), "item_b")
      .select(col("item_a"), col("item_b"), col("co"),
        round(col("co").cast("double") /
          (col("__fa") + col("__fb") - col("co")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("co").desc, col("item_a"),
        col("item_b"))
      .limit(topK)
  }

  /** The intra-order part-sequence edge list: within each order, an edge
    * from the part on line n to the part on line n+1 — the "bought
    * together, in sequence" product graph [[pageRank]]'s gate scores.
    * Deduplicated to (order, line, part) before the window so the lead is
    * taken over a totally ordered frame (the synthetic lineitem repeats
    * (l_orderkey, l_linenumber) — the verify gotcha); the window is
    * keyed by order, never global.
    */
  def orderSequenceEdges(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey")
    lineitem.select("l_orderkey", "l_linenumber", "l_partkey").distinct()
      .withColumn("__next", lead(col("l_partkey"), 1).over(w))
      .where(col("__next").isNotNull)
      .select(col("l_partkey").as("src"), col("__next").as("dst"))
  }

  /** Canonical capped co-occurrence edge list: distinct (basket, item)
    * pairs, baskets capped at `maxBasket` items (the fan-out bound that
    * keeps the self-join linear in transaction volume — a degenerate
    * mega-basket otherwise contributes O(size²) pairs), co-occurrence
    * counted per UNORDERED pair (a < b), floored at `minCo`. The shared
    * substrate of [[itemAffinity]], [[triangleStats]] and
    * [[labelPropagation]].
    */
  def basketPairs(tx: DataFrame, basketCol: String, itemCol: String,
                  minCo: Int, maxBasket: Int): DataFrame =
    pairsFromCapped(
      cappedBasketItems(tx, basketCol, itemCol, maxBasket), minCo)

  /** The capped distinct (basket, item) frame behind every basket
    * operator: dedup'd membership with oversized baskets dropped WHOLE
    * (the fan-out cap). Shared by [[basketPairs]] and [[assocRules]] so
    * the cap rule lives in exactly one place.
    */
  private def cappedBasketItems(tx: DataFrame, basketCol: String,
                                itemCol: String,
                                maxBasket: Int): DataFrame = {
    require(maxBasket >= 2, "capped baskets need maxBasket >= 2")
    val b = tx.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .where(col("__bk").isNotNull && col("__it").isNotNull)
      .distinct()
    val keep = b.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBasket)
      .select("__bk")
    b.join(keep, "__bk")
  }

  /** Canonical (a < b) co-occurrence counts over a capped (basket,
    * item) frame, floored at `minCo`.
    */
  private def pairsFromCapped(s: DataFrame, minCo: Int): DataFrame =
    s.as("l").join(s.as("r"), col("l.__bk") === col("r.__bk") &&
        col("l.__it") < col("r.__it"))
      .groupBy(col("l.__it").as("a"), col("r.__it").as("b"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)

  /** Per-node triangle count + local clustering coefficient over an
    * UNDIRECTED edge list given in canonical (a < b) form — the
    * community-density diagnostic (how clique-like is each node's
    * neighborhood?). Classic compact-forward shape: every triangle
    * x < y < z is enumerated exactly once by joining (x,y)-(y,z) wedges
    * back against the edge set on (x,z).
    *
    * Scale shape: both joins are hash equi-joins keyed on node ids over
    * the DEDUPLICATED, minCo/maxBasket-capped edge frame (checkpointed
    * once, read three times) — wedge fan-out is bounded by the capped
    * degree, never raw transaction volume. Clustering =
    * 2·T / (deg·(deg−1)), 0 for degree-1 nodes, rounded to 6; output is
    * cut to `topK` under the total order (triangles DESC, node).
    */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String,
                    topK: Int): DataFrame = {
    require(topK > 0, "triangleStats needs topK > 0")
    val e = edges
      .select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .where(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val tri = wedges.as("w")
      .join(e.as("e3"), col("w.x") === col("e3.a") &&
        col("w.z") === col("e3.b"))
      .select(col("w.x"), col("w.y"), col("w.z"))
    val perNode = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering", when(col("degree") >= 2,
        round(lit(2.0) * col("triangles").cast("double") /
          (col("degree").cast("double") *
            (col("degree").cast("double") - lit(1.0))), 6))
        .otherwise(lit(0.0)))
      .orderBy(col("triangles").desc, col("node"))
      .limit(topK)
  }

  /** Fixed-round synchronous label propagation (community detection):
    * label₀(v) = v; each round every node adopts the MODE of its
    * neighbors' labels, ties to the SMALLEST label — the deterministic
    * LPA variant (classic async LPA is order-dependent; the synchronous
    * min-tie-break form is reproducible under any parallelism, which is
    * what makes it oracle-replayable).
    *
    * Scale shape: per round ONE equi-join of the undirected edge list
    * with the |V|-row label frame plus one (node, label) groupBy and a
    * node-partitioned top-1 window — O(|E|) shuffle per round, keyed
    * identically every round; the rounds run in [[Par.iterate]], so
    * round N never replays rounds 1..N−1. Output: every node with its
    * final label and the label's community size.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1 && rounds <= 20,
      "labelPropagation needs 1 <= rounds <= 20 (fixed-round contract)")
    val e0 = edges
      .select(col(aCol).cast("long").as("s"),
        col(bCol).cast("long").as("t"))
      .where(col("s").isNotNull && col("t").isNotNull)
      .distinct()
    // hash-partition the undirected edge file by the per-round join key
    // BEFORE the checkpoint: LogicalRDD preserves the partitioning, so
    // each round's neighbor-label join re-shuffles only the V-row label
    // frame instead of the 2|E|-row edge file (one exchange per round
    // removed — r16, guide §2.4)
    val und = e0.unionAll(e0.select(col("t").as("s"), col("s").as("t")))
      .repartition(col("t"))
      .localCheckpoint()
    val nodes = und.select(col("s").as("node")).distinct()
    val init = nodes.withColumn("label", col("node")).localCheckpoint()
    val pick = Window.partitionBy("s")
      .orderBy(col("__c").desc, col("label").asc)
    val lab = Par.iterate("labelPropagation", rounds, init) { (lab, _) =>
      und
        .join(lab.withColumnRenamed("node", "t"), "t")
        .groupBy(col("s"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__r", row_number().over(pick))
        .where(col("__r") === 1)
        .select(col("s").as("node"), col("label"))
    }
    val sizes = lab.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "label")
      .select(col("node"), col("label"), col("community_size"))
      .orderBy("node")
  }

  /** Newman modularity of a community assignment over an undirected
    * graph — the "did label propagation find REAL structure?" score:
    * Q = Σ_c [ e_c/m − (d_c/(2m))² ], e_c = intra-community edges, d_c
    * = degree mass of c, m = total edges. Q ≈ 0 means the partition is
    * no better than random wiring; disconnected perfect communities
    * approach 1. Output: one row per community (nodes, internal edges,
    * degree mass, its Q contribution) with the shared total — the
    * per-community view shows WHICH communities are load-bearing.
    *
    * Float discipline: e_c/m and d_c/(2m) are correctly-rounded
    * quotients of exact integer sums; the Σ over communities folds in
    * PINNED label order (the kruskalWallis rule for free-order drift).
    *
    * Scale notes: edge normalization + degree count are two
    * map-side-combined aggregates; both community joins are node-keyed
    * equi-joins; the per-community frame is COMMUNITIES-bounded; m
    * broadcasts as a 1-row scalar.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 communities: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = canonicalPairs(edges, aCol, bCol)
    val m = p.agg(count(lit(1)).as("m"))
    val deg = p.select(col("a").as("node"))
      .unionAll(p.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val lab = communities.select(col("node"), col("label"))
    val eIn = p
      .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("e_in"))
    val dTot = lab.join(deg, "node")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
    val wPin = Window.orderBy("label")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dTot.join(eIn, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .withColumn("__q",
        coalesce(col("e_in"), lit(0L)) / col("m")
          - (col("d_tot") / (lit(2.0) * col("m")))
            * (col("d_tot") / (lit(2.0) * col("m"))))
      .withColumn("__qt", sum(col("__q")).over(wPin))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"),
        // + 0.0 folds IEEE -0.0 to +0.0: engines disagree on the sign
        // of zero after round() on tiny-negative sums, and the driver
        // hash is bit-sensitive (mirrored in the DuckDB oracle)
        (round(col("__q"), 6) + lit(0.0)).as("q_contrib"),
        (round(col("__qt"), 6) + lit(0.0)).as("q_modularity"))
      .orderBy("label")
  }

  /** Association rules over capped basket co-occurrence — the market-
    * basket classic ([[itemAffinity]]'s symmetric Jaccard turned into
    * DIRECTED implication strength): for each ordered pair a→b,
    * confidence = P(b|a) = co/freq(a) and lift = P(a,b)/(P(a)·P(b)) =
    * co·N / (freq(a)·freq(b)), N = capped basket count. Frequencies and
    * N are counted over the SAME capped basket set the pairs come from,
    * so the probabilities are consistent.
    *
    * Scale shape: [[basketPairs]]'s bounded pair pass + two item-keyed
    * broadcast-joinable frequency joins + the 1-row N scalar broadcast;
    * the undirected counts are mirrored, not recomputed. Output cut to
    * `topK` under the total (lift DESC, antecedent, consequent) order.
    */
  def assocRules(tx: DataFrame, basketCol: String, itemCol: String,
                 minCo: Int, maxBasket: Int, topK: Int): DataFrame = {
    require(topK > 0, "assocRules needs topK > 0")
    val s = cappedBasketItems(tx, basketCol, itemCol, maxBasket)
      .localCheckpoint()
    val n = s.select(col("__bk")).distinct()
      .agg(count(lit(1)).cast("double").as("__N"))
    val freq = s.groupBy(col("__it")).agg(count(lit(1)).as("__f"))
    val pairs = pairsFromCapped(s, minCo)
    val directed = pairs
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("co"))
      .unionAll(pairs.select(col("b").as("antecedent"),
        col("a").as("consequent"), col("co")))
    directed
      .join(freq.withColumnRenamed("__it", "antecedent")
        .withColumnRenamed("__f", "__fa"), "antecedent")
      .join(freq.withColumnRenamed("__it", "consequent")
        .withColumnRenamed("__f", "__fb"), "consequent")
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("co"),
        round(col("co").cast("double") / col("__fa").cast("double"), 6)
          .as("confidence"),
        round(col("co").cast("double") * col("__N") /
          (col("__fa").cast("double") * col("__fb").cast("double")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(topK)
  }

  /** Fixed-round BFS hop distances from a seed set — "how far is every
    * node from these products/users" (the reachability/diameter probe;
    * [[personalizedPageRank]] measures weighted proximity, this measures
    * the unweighted hop metric). dist₀ = 0 on seeds; each round relaxes
    * one hop: dist(v) = min(dist(v), min over in-neighbors dist(u)+1) —
    * synchronous Bellman-Ford restricted to unit weights, so after k
    * rounds every node within k hops carries its EXACT hop distance.
    *
    * Scale shape: per round ONE equi-join of the edge list with the
    * current distance frame + one min groupBy — O(|E|) shuffle per
    * round, run in [[Par.iterate]]. Edges are treated as
    * directed; pass a mirrored edge list for the undirected metric.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "bfsHops needs at least one seed")
    require(maxHops >= 1 && maxHops <= 20,
      "bfsHops needs 1 <= maxHops <= 20 (fixed-round contract)")
    // no pre-partitioning — same A/B rejection as [[pageRank]] (r16)
    val e = edges
      .select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("t"))
      .where(col("s").isNotNull && col("t").isNotNull)
      .distinct()
      .localCheckpoint()
    val seeded = e.select(col("s").as("node"))
      .union(e.select(col("t").as("node")))
      .distinct()
      .where(col("node").isin(seeds: _*))
      .withColumn("hops", lit(0L))
      .localCheckpoint()
    Par.iterate("bfsHops", maxHops, seeded) { (dist, _) =>
      e.join(dist.withColumnRenamed("node", "s"), "s")
        .select(col("t").as("node"), (col("hops") + 1L).as("hops"))
        .unionAll(dist)
        .groupBy(col("node"))
        .agg(min(col("hops")).as("hops"))
    }.orderBy("node")
  }

  /** Fixed-round k-core peel over an undirected (a < b) edge list — the
    * classic dense-subgraph / spam-cluster screen (Seidman '83;
    * "everyone left has ≥ k surviving neighbors"). Each round drops
    * every node whose CURRENT degree is below k and every edge touching
    * one; `rounds` synchronous passes of the standard peel (the
    * fixed-point is reached once no round removes a node — callers size
    * `rounds` like [[labelPropagation]]'s, and the output is exactly
    * defined for any round count because degrees are exact integers).
    *
    * Scale shape: per round ONE degree groupBy over the mirrored edge
    * list + two semi-join filters — O(|E|) keyed shuffles, never a
    * collect; the rounds run in [[Par.iterate]]. Output: surviving nodes
    * with their within-core degree.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 2, "kCore needs k >= 2")
    require(rounds >= 1 && rounds <= 16,
      "kCore runs a fixed 1..16 peel rounds")
    val canon = edges
      .select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .where(col("a") < col("b"))
      .distinct()
    // cur stays hash-partitioned by s across rounds: the degree groupBy
    // AND the s-side semi-filter both consume that partitioning, so the
    // one repartition per round replaces two exchanges (r16, §2.4)
    val mirrored = canon.select(col("a").as("s"), col("b").as("t"))
      .unionAll(canon.select(col("b").as("s"), col("a").as("t")))
      .repartition(col("s"))
      .localCheckpoint()
    Par.iterate("kCore", rounds, mirrored) { (cur, _) =>
      val keep = cur.groupBy(col("s")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select(col("s"))
      cur.join(keep, Seq("s"))
        .join(keep.select(col("s").as("t")), Seq("t"))
        .select(col("s"), col("t"))
        .repartition(col("s"))
    }.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("node")
  }

  /** Fixed-round k-truss peel — [[kCore]]'s edge analog and the standard
    * cohesion upgrade: an edge survives only while it closes at least
    * k−2 triangles WITHIN the surviving subgraph, so bridges and hub
    * spokes (which a k-core keeps: degree is cheap, common neighbors
    * are not) peel away and what remains is triangle-dense community
    * fabric. Each synchronous round: enumerate triangles over the
    * current canonical (a<b) edge set with the [[triangleStats]]
    * compact-forward wedge close (each x<y<z counted once), bill each
    * triangle to its 3 edges, drop edges below support k−2. Support is
    * integer counting — nothing floats, so the peel is trivially
    * cross-engine exact.
    *
    * Scale shape: per round one wedge self-join + one closing equi-join
    * (O(Σ deg²) candidate wedges worst-case — run it on degree-capped
    * graphs like [[basketPairs]]' output, the q_triangles contract) and
    * one edge-keyed support groupBy; the rounds run in
    * [[Par.iterate]]. After the last peel, the
    * support is RECOMPUTED once over the final surviving edge set —
    * the last round's pre-peel counts may bill triangles through
    * edges peeled in that same round, so the published number is the
    * true within-truss support (0 for a survivor whose triangles all
    * died in the final peel) regardless of whether the fixed round
    * count reached convergence. Output: surviving edges with their
    * final within-truss support, ordered (a, b).
    */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
             rounds: Int): DataFrame = {
    require(k >= 3, "kTruss needs k >= 3 (k-2 triangles per edge)")
    require(rounds >= 1 && rounds <= 16,
      "kTruss runs a fixed 1..16 peel rounds")
    val canon = edges
      .select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .where(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    // one wedge-close + per-edge billing pass over an edge set
    def billSupport(e: DataFrame): DataFrame = {
      val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"),
          col("e2.b").as("z"))
        .as("w")
        .join(e.as("e3"), col("w.x") === col("e3.a") &&
          col("w.z") === col("e3.b"))
        .select(col("w.x"), col("w.y"), col("w.z"))
      tri.select(col("x").as("a"), col("y").as("b"))
        .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
        .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
    }
    val truss = Par.iterate("kTruss", rounds, canon) { (e, _) =>
      billSupport(e).where(col("support") >= k - 2)
        .select(col("a"), col("b"))
    }
    // publish the TRUE within-truss support of the survivors (LEFT:
    // a survivor whose triangles all peeled in the last round keeps
    // its edge row at support 0)
    truss.join(billSupport(truss), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .orderBy("a", "b")
  }

  /** One-or-more synchronous Louvain local-move rounds over an existing
    * community assignment — [[modularity]]'s scorecard turned into an
    * IMPROVER: each node adopts the candidate label (a neighbor's
    * community, or staying put) with the maximum modularity gain. The
    * classic Louvain gain of placing node i (degree d_i) into community
    * C is ΔQ ∝ k_{i,C}/m − d_i·D_C/(2m²) with D_C the community's
    * degree mass EXCLUDING i; since every candidate shares the 2m²
    * denominator, the argmax is taken over the exact-INTEGER score
    * S(C) = 2m·k_{i,C} − d_i·D_C — no float enters the decision, so
    * the pick is bit-identical cross-engine (the kruskalWallis
    * total-order rule: score DESC, label ASC). Staying is always a
    * candidate (own label with D_A − d_i), so a round can only keep or
    * improve each node's local term.
    *
    * Scheduling: fully synchronous moves OSCILLATE (two adjacent nodes
    * adopt each other's community in the same round and global Q drops
    * — measured on the sf0.01 basket graph). The remedy is a label-
    * MONOTONE direction gate: odd rounds admit only candidates with
    * cand <= current label ("down-or-stay"), even rounds only
    * cand >= current label ("up-or-stay"), filtered BEFORE the argmax
    * so a node takes its best ALLOWED move. Within one round every
    * relabel is strictly monotone in the same direction, so no set of
    * adjacent movers can cyclically exchange labels (a swap u→l(v),
    * v→l(u) needs l(v) < l(u) AND l(u) < l(v)) — a strictly stronger
    * guarantee than node-parity gating, which still admits same-parity
    * adjacent swaps (e.g. nodes 2 and 4). Synchronous SAME-community
    * departures can still interact, so Q improvement is NOT assumed:
    * the GLOBAL Q is re-measured downstream ([[modularity]]). Two
    * rounds = one full sweep over both directions.
    *
    * Isolated nodes (present in `communities`, absent from `edges`)
    * are retained: degree joins are LEFT with a 0 fill, so their only
    * candidate is their own label at score 0 — they always stay.
    *
    * Scale shape: per round ONE O(|E|) neighbor-label equi-join +
    * a (node, label)-keyed count + a COMMUNITIES-bounded degree-mass
    * frame joined back broadcast-style + a node-partitioned argmax
    * window — exactly labelPropagation's shuffle profile, with the
    * same per-round checkpoint truncation. Integer scores stay in
    * Long for 2·m·d_max < 2^63 (m = canonical edge count).
    */
  def louvainLocalMove(edges: DataFrame, aCol: String, bCol: String,
                       communities: DataFrame, rounds: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1 && rounds <= 10,
      "louvainLocalMove runs a fixed 1..10 move rounds")
    val p = canonicalPairs(edges, aCol, bCol)
    // pre-partitioned by the per-round neighbor-label join key (r16,
    // guide §2.4 — the checkpoint preserves the partitioning, so each
    // round shuffles only the V-row label frame)
    val und = p.select(col("a").as("s"), col("b").as("t"))
      .unionAll(p.select(col("b").as("s"), col("a").as("t")))
      .repartition(col("t"))
      .localCheckpoint()
    val m2 = broadcast(p.agg((count(lit(1)) * 2L).as("__m2")))
    val deg = und.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("__d"))
      .localCheckpoint()
    val pick = Window.partitionBy("node")
      .orderBy(col("__score").desc, col("cand").asc)
    val init = assignment(communities)
    Par.iterate("louvainLocalMove", rounds, init) { (lab, r) =>
      // k_{i,C}: edges from each node into each neighboring community
      val kc = und
        .join(lab.select(col("node").as("t"), col("label")), "t")
        .groupBy(col("s").as("node"), col("label").as("cand"))
        .agg(count(lit(1)).as("__k"))
      // candidate set = neighbor communities ∪ the node's own label
      // (k folds to the kc count when present, 0 when isolated-in-A)
      val cand = kc
        .unionByName(lab.select(col("node"), col("label").as("cand"),
          lit(0L).as("__k")))
        .groupBy(col("node"), col("cand"))
        .agg(max(col("__k")).as("__k"))
      // D_C: degree mass per community (COMMUNITIES-bounded; LEFT so
      // all-isolated communities keep a 0-mass row)
      val dc = lab.join(deg, Seq("node"), "left")
        .groupBy(col("label").as("cand"))
        .agg(sum(coalesce(col("__d"), lit(0L))).as("__dc"))
      // direction gate: odd rounds down-or-stay, even rounds
      // up-or-stay — monotone relabels admit no swap cycle in-round
      val dir = if (r % 2 == 1) col("cand") <= col("label")
                else col("cand") >= col("label")
      cand
        .join(lab, "node")
        .join(deg, Seq("node"), "left")
        .join(broadcast(dc), "cand")
        .crossJoin(m2)
        .where(dir)
        .withColumn("__dg", coalesce(col("__d"), lit(0L)))
        .withColumn("__dx",
          when(col("cand") === col("label"), col("__dc") - col("__dg"))
            .otherwise(col("__dc")))
        .withColumn("__score",
          col("__m2") * col("__k") - col("__dg") * col("__dx"))
        .withColumn("__r", row_number().over(pick))
        .where(col("__r") === 1)
        .select(col("node"), col("cand").as("label"))
    }.orderBy("node")
  }

  /** One exact-integer modularity summary row read straight off the
    * CONTRACTED graph (self-loop weight = e_in_C, weighted degree =
    * D_C): Q's numerator N = Σ_C (2·(2m)·e_in_C − D_C²), so
    * Q = N / (2m)² and level-over-level comparisons are pure Long
    * comparisons (no float enters the stopping decision). Overflow
    * bound: 2·(2m)·e_in ≤ 4m² and D_C² ≤ 4m², so |N| ≤ |C|·4m² —
    * document m < ~10⁹ at scale.
    */
  private def superLevelSummary(se: DataFrame, sd: DataFrame,
                                m2: DataFrame, level: Int): DataFrame = {
    val selfs = se.where(col("sa") === col("sb"))
      .select(col("sa").as("node"), col("w").as("__ein"))
    sd.join(selfs, Seq("node"), "left")
      .crossJoin(m2)
      .agg(count(lit(1)).as("n_communities"),
        sum(lit(2L) * col("__m2") * coalesce(col("__ein"), lit(0L)) -
          col("__d") * col("__d")).as("q_num"),
        first(col("__m2")).as("__m2v"))
      .select(lit(level).as("level"), col("n_communities"), col("q_num"),
        (round(col("q_num").cast("double") /
          (col("__m2v") * col("__m2v")).cast("double"), 6) + lit(0.0))
          .as("q_modularity"))
  }

  /** Multi-level Louvain — the full coarsening recursion
    * [[louvainCoarseMove]] runs one level of: starting from a node-level
    * assignment (in practice the published phase-1 LPA+sweep table),
    * contract-and-sweep repeatedly, re-scoring after each level, until
    * the EXACT-INTEGER modularity numerator stops strictly improving or
    * the fixed level budget (≤ 4) is spent. Real Louvain recurses until
    * ΔQ stalls; a single coarsen level can leave Q far from the plateau
    * on a large graph — this closes that gap while keeping the
    * determinism contract: every level is the deterministic
    * direction-gated sweep, and the stop rule compares Longs, so the
    * executed level count is a pure function of the input.
    *
    * Output: one row per COMPUTED level — level 0 is the input
    * assignment, the last row is either the first non-improving level
    * (kept visible as the stall evidence) or the budget boundary.
    * Columns: level, n_communities, q_num (exact-integer numerator,
    * Q = q_num/(2m)²), q_modularity (round-6).
    *
    * Driver boundary: the stop decision reads ONE summary row per level
    * (≤ 5 single-row collects total) — the same bounded control-flow
    * collect class as Etl's backfill cursor, documented here because
    * convergence-driven control flow cannot stay lazy.
    *
    * Scale shape: ONE O(|E|) contraction off the node graph, then the
    * whole recursion runs at the SUPER level — per level a weighted
    * sweep + re-contraction + scorecard over COMMUNITIES-bounded
    * frames that shrink geometrically (exact-integer weights compose
    * associatively, so iterating contractions equals contracting the
    * node graph by the composed labels — the unrolled-oracle replay).
    * Node-level labels never materialize; only summaries are emitted.
    */
  def louvainMultiLevel(edges: DataFrame, aCol: String, bCol: String,
                        communities: DataFrame, maxLevels: Int = 4,
                        rounds: Int = 2): DataFrame = {
    require(maxLevels >= 1 && maxLevels <= 4,
      "louvainMultiLevel runs a fixed budget of 1..4 coarsen levels")
    val (start, levels) = louvainLevels(
      superGraph(edges, aCol, bCol, communities), maxLevels, rounds)
    IterStats.record("louvainMultiLevel", levels.size)
    // the returned frame is the LAZY union of the per-level summaries
    // (their checkpointed inputs make re-execution cheap), so the plan
    // stays auditable instead of collapsing to collected local rows
    (start +: levels.map(_.summary)).reduce(_ unionAll _).orderBy("level")
  }

  /** The FINAL node→community assignment of [[louvainMultiLevel]] — the
    * consumable table the summary-only recursion deliberately never
    * materializes: downstream consumers (community-balanced sampling,
    * per-community mix reports) need the node-level map, so this
    * variant runs the IDENTICAL recursion (same contraction, same
    * direction-gated sweeps, same exact-integer stop rule) while
    * composing the per-level super-label moves on a COMMUNITIES-bounded
    * mapping frame; the node-level labels still materialize exactly
    * once, in the single final join.
    *
    * Accept rule: a level's moves enter the composition iff that
    * level's exact-integer modularity numerator STRICTLY improved —
    * the stall level that [[louvainMultiLevel]] keeps visible as
    * evidence is measured but its labels are discarded (classic
    * Louvain keeps the best plateau, not the step that fell off it).
    *
    * Output: (node, community, community_size), ordered by node.
    * Scale shape: identical to [[louvainMultiLevel]] plus ≤ maxLevels
    * label-keyed joins of the mapping frame (communities-bounded) and
    * ONE |V|-row final join + size groupBy.
    */
  def louvainMultiLevelAssign(edges: DataFrame, aCol: String,
                              bCol: String, communities: DataFrame,
                              maxLevels: Int = 4,
                              rounds: Int = 2): DataFrame = {
    require(maxLevels >= 1 && maxLevels <= 4,
      "louvainMultiLevelAssign runs a fixed budget of 1..4 levels")
    val g = superGraph(edges, aCol, bCol, communities)
    val (_, levels) = louvainLevels(g, maxLevels, rounds)
    IterStats.record("louvainMultiLevelAssign", levels.size)
    // composed label→community map, identity start (labels-bounded);
    // each improving level's super moves fold in — the moves are total
    // over that level's super nodes, so the join is inner
    val identity = g.lab.select(col("label").as("l0")).distinct()
      .select(col("l0"), col("l0").as("cur"))
      .localCheckpoint()
    val comp = levels.filter(_.improved).foldLeft(identity) { (comp, l) =>
      comp
        .join(l.moves.select(col("node").as("cur"),
          col("label").as("__n")), Seq("cur"))
        .select(col("l0"), col("__n").as("cur"))
        .localCheckpoint()
    }
    val asg = g.lab
      .join(comp.select(col("l0").as("label"),
        col("cur").as("community")), Seq("label"), "left")
      .select(col("node"), coalesce(col("community"), col("label"))
        .as("community"))
    val sizes = asg.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    asg.join(sizes, Seq("community"))
      .select(col("node"), col("community"), col("community_size"))
      .orderBy("node")
  }

  /** Degree assortativity (Newman '02) — the one-number answer to "do
    * hubs link to hubs?": the Pearson correlation of endpoint degrees
    * over the edge list. r > 0 (social-network shape: celebrities
    * cluster) vs r < 0 (infrastructure/biology shape: hubs fan out to
    * leaves) changes how failures and dedup cascades propagate, which
    * is why it belongs next to [[triangleStats]] in the graph profile.
    * Over canonical undirected edges with endpoint degrees j, k:
    * r = [Σjk/m − (Σ(j+k)/2m)²] / [Σ(j²+k²)/2m − (Σ(j+k)/2m)²].
    *
    * Float discipline: every Σ is an EXACT integer (degrees are
    * counts; Σj²+k² needs m·d_max² < 2^63 — document at scale), so r
    * is pure quotient arithmetic both engines share; round-6 with the
    * `+ 0.0` guard (a near-neutral graph rounds to ±0); NULL on
    * regular graphs (zero degree variance admits no correlation).
    *
    * Scale shape: one degree groupBy + two node-keyed equi-joins +
    * one map-side-combined scalar agg — O(|E|), never all-pairs.
    */
  def assortativity(edges: DataFrame, aCol: String,
                    bCol: String): DataFrame = {
    val p = canonicalPairs(edges, aCol, bCol)
    val deg = p.select(col("a").as("node"))
      .unionAll(p.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val jk = p
      .join(deg.select(col("node").as("a"), col("d").as("j")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("k")), "b")
    val s = jk.agg(count(lit(1)).as("n_edges"),
      sum(col("j") * col("k")).as("__sjk"),
      sum(col("j") + col("k")).as("__ssum"),
      sum(col("j") * col("j") + col("k") * col("k")).as("__ssq"))
    val m = col("n_edges").cast("double")
    val mu = col("__ssum").cast("double") / (lit(2.0) * m)
    val num = col("__sjk").cast("double") / m - mu * mu
    val den = col("__ssq").cast("double") / (lit(2.0) * m) - mu * mu
    s.select(col("n_edges"),
      round(mu, 6).as("mean_edge_degree"),
      (round(when(den =!= 0.0, num / den), 6) + lit(0.0))
        .as("assortativity"))
  }

  /** Louvain PHASE TWO: contract each community to a super-node (edge
    * weights = cross-community edge counts, self-loops = intra counts)
    * and run [[louvainLocalMove]]'s direction-alternating gain argmax
    * at the SUPER level, where whole communities merge in one move — the
    * coarsening step that lets Louvain escape the local optima a
    * node-level sweep cannot (two halves of one real community found
    * separately will merge here; no sequence of single-node moves may
    * improve Q, but the community-level move does).
    *
    * The gain algebra survives contraction with INTEGER weights: the
    * contracted graph's modularity (self-loops included in degree
    * mass) equals the original partition's Q, m stays the original
    * edge count, k_{i,C} sums cross weights, d_i is the weighted
    * degree (self-loops twice), and the argmax score is still the
    * exact integer S(C) = 2m·k_{i,C} − d_i·D_C. Self-loops never enter
    * k (they move WITH the super-node, contributing equally to every
    * candidate). Returns the NODE-level assignment (each node takes
    * its community's post-move label) for [[modularity]] to re-score.
    * The map-back is a LEFT join: a community label absent from the
    * super-graph (possible only when `communities` carries labels no
    * edge endpoint holds) keeps its original label rather than
    * dropping its nodes.
    *
    * Scale shape: the contraction is one edge→label double equi-join +
    * a COMMUNITIES²-bounded (in practice edge-sparse) groupBy; each
    * move round then runs on the SUPER graph — strictly smaller than
    * the node graph — with labelPropagation's shuffle profile and
    * per-round checkpoints.
    */
  def louvainCoarseMove(edges: DataFrame, aCol: String, bCol: String,
                        communities: DataFrame,
                        rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 10,
      "louvainCoarseMove runs a fixed 1..10 move rounds")
    val g = superGraph(edges, aCol, bCol, communities)
    val slab = weightedMoveRounds(g.se, g.sd, g.m2, rounds)
    g.lab.join(slab.select(col("node").as("label"),
        col("label").as("__nl")), Seq("label"), "left")
      .select(col("node"),
        coalesce(col("__nl"), col("label")).as("label"))
      .orderBy("node")
  }

  /** Canonical weighted contraction: collapse a canonical weighted
    * super-edge frame (sa ≤ sb, integer w) by a (node, label)
    * assignment — weights SUM, so contracting a contraction equals
    * contracting the original graph by the composed labels
    * (associativity of exact-integer sums), which is what lets
    * [[louvainMultiLevel]] iterate at the super level.
    */
  private def contractWeighted(se: DataFrame,
                               slab: DataFrame): DataFrame =
    se.join(slab.select(col("node").as("sa"), col("label").as("la")),
        "sa")
      .join(slab.select(col("node").as("sb"), col("label").as("lb")),
        "sb")
      .select(least(col("la"), col("lb")).as("sa"),
        greatest(col("la"), col("lb")).as("sb"), col("w"))
      .groupBy(col("sa"), col("sb"))
      .agg(sum(col("w")).as("w"))

  /** Weighted degree per super node: incident cross weights +
    * self-loops TWICE (the contraction-invariant degree mass).
    */
  private def weightedDegrees(se: DataFrame): DataFrame =
    se.select(col("sa").as("node"),
        when(col("sa") === col("sb"), col("w") * 2L)
          .otherwise(col("w")).as("__dw"))
      .unionAll(se.where(col("sa") =!= col("sb"))
        .select(col("sb").as("node"), col("w").as("__dw")))
      .groupBy("node").agg(sum(col("__dw")).as("__d"))

  /** The direction-gated weighted move rounds over a canonical
    * weighted super-edge frame: identity start, per-round exact-int
    * gain argmax with [[louvainLocalMove]]'s monotone direction gate.
    * Self-loops never enter k (they move WITH the super-node).
    */
  private def weightedMoveRounds(se: DataFrame, sdeg: DataFrame,
                                 m2: DataFrame,
                                 rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = se.where(col("sa") =!= col("sb"))
      .select(col("sa").as("s"), col("sb").as("t"), col("w"))
      .unionAll(se.where(col("sa") =!= col("sb"))
        .select(col("sb").as("s"), col("sa").as("t"), col("w")))
      .localCheckpoint()
    val identity = sdeg.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    val pick = Window.partitionBy("node")
      .orderBy(col("__score").desc, col("cand").asc)
    Par.iterate("weightedMoveRounds", rounds, identity) { (slab, r) =>
      val kc = und
        .join(slab.select(col("node").as("t"), col("label")), "t")
        .groupBy(col("s").as("node"), col("label").as("cand"))
        .agg(sum(col("w")).as("__k"))
      val cand = kc
        .unionByName(slab.select(col("node"), col("label").as("cand"),
          lit(0L).as("__k")))
        .groupBy(col("node"), col("cand"))
        .agg(max(col("__k")).as("__k"))
      val dc = slab.join(sdeg, "node")
        .groupBy(col("label").as("cand"))
        .agg(sum(col("__d")).as("__dc"))
      // louvainLocalMove's monotone direction gate at the super level
      val dir = if (r % 2 == 1) col("cand") <= col("label")
                else col("cand") >= col("label")
      cand
        .join(slab, "node")
        .join(sdeg, "node")
        .join(broadcast(dc), "cand")
        .crossJoin(m2)
        .where(dir)
        .withColumn("__dx",
          when(col("cand") === col("label"), col("__dc") - col("__d"))
            .otherwise(col("__dc")))
        .withColumn("__score",
          col("__m2") * col("__k") - col("__d") * col("__dx"))
        .withColumn("__r", row_number().over(pick))
        .where(col("__r") === 1)
        .select(col("node"), col("cand").as("label"))
    }
  }

  /** Canonical undirected pairs: (a, b) = (least, greatest) endpoint as
    * longs, NULL endpoints and self-loops dropped, multi-edges collapsed
    * — checkpointed once, since every caller reads it several times.
    */
  private def canonicalPairs(edges: DataFrame, aCol: String,
                             bCol: String): DataFrame =
    edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

  /** A (node, label) community assignment as longs, checkpointed. */
  private def assignment(communities: DataFrame): DataFrame =
    communities.select(col("node").cast("long").as("node"),
      col("label").cast("long").as("label")).localCheckpoint()

  /** The start every Louvain phase-two driver shares: the node
    * assignment `lab`, the 1-row broadcast 2m over the NODE graph's
    * canonical edge count, and the canonical pairs contracted by `lab`
    * into weighted super edges `se` (sa ≤ sb, integer w) with their
    * weighted degrees `sd`.
    */
  private case class SuperGraph(lab: DataFrame, m2: DataFrame,
                                se: DataFrame, sd: DataFrame)

  private def superGraph(edges: DataFrame, aCol: String, bCol: String,
                         communities: DataFrame): SuperGraph = {
    val p = canonicalPairs(edges, aCol, bCol)
    val lab = assignment(communities)
    val se = contractWeighted(
      p.select(col("a").as("sa"), col("b").as("sb"), lit(1L).as("w")),
      lab).localCheckpoint()
    SuperGraph(lab, broadcast(p.agg((count(lit(1)) * 2L).as("__m2"))), se,
      weightedDegrees(se).localCheckpoint())
  }

  /** One computed level of the Louvain coarsening recursion: its
    * scorecard row, the super-node moves it made, and whether its
    * exact-integer modularity numerator strictly improved.
    */
  private case class Level(summary: DataFrame, moves: DataFrame,
                           improved: Boolean)

  /** The level recursion [[louvainMultiLevel]] and
    * [[louvainMultiLevelAssign]] both run: per level a weighted sweep
    * ([[weightedMoveRounds]]), re-contraction and scorecard, until a
    * level fails to improve the numerator or `maxLevels` levels ran. The
    * stop decision reads ONE summary row per level. Returns the level-0
    * scorecard and every computed level, the stall level included.
    */
  private def louvainLevels(g: SuperGraph, maxLevels: Int,
                            rounds: Int): (DataFrame, Seq[Level]) = {
    val start = superLevelSummary(g.se, g.sd, g.m2, 0)
    var prevQ = start.head().getAs[Long]("q_num")
    var se = g.se
    var sd = g.sd
    val levels = scala.collection.mutable.ArrayBuffer.empty[Level]
    while (levels.size < maxLevels && levels.lastOption.forall(_.improved)) {
      val moves = weightedMoveRounds(se, sd, g.m2, rounds)
      se = contractWeighted(se, moves).localCheckpoint()
      sd = weightedDegrees(se).localCheckpoint()
      val summary = superLevelSummary(se, sd, g.m2, levels.size + 1)
      val q = summary.head().getAs[Long]("q_num")
      levels += Level(summary, moves, q > prevQ)
      prevQ = q
    }
    (start, levels.toSeq)
  }
}
