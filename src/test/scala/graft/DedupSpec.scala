package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, IterStats, Similarity}

/** Properties of the dedup/similarity suite that the SQL oracle doesn't
  * cover: LSH completeness vs exact Jaccard, signature determinism, ANN
  * recall vs brute force, skew-guard behavior.
  */
class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("exactDedup: idempotent and lossless on unique texts") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() === docs.select("text").distinct().count())
    assert(out.agg(sum("n_copies")).head.getLong(0) === docs.count())
  }

  test("minhash LSH finds every exact-Jaccard pair at threshold 0.8") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 8, 0.8)
    val missed = exact.select("id_i", "id_j")
      .exceptAll(lsh.select("id_i", "id_j")).count()
    // 8 bands × 4 rows: P(miss | jac >= 0.8) per pair < 2%; the planted
    // pairs are all >= 0.9 where P(miss) < 3e-4 — expect zero.
    assert(missed === 0L, s"LSH missed $missed exact pairs")
    // and LSH must never report a pair below threshold (exact verify step)
    assert(lsh.filter(col("jaccard") < 0.8).count() === 0L)
  }

  test("jaccard pairs symmetric-free (i<j) and within [0,1]") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0)
    assert(pairs.filter(col("id_i") >= col("id_j")).count() === 0L)
    assert(pairs.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0L)
  }

  test("stop-shingle cap drops high-frequency shingles from pair space") {
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0,
      maxDocFreq = Some(1L))
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0)
    assert(capped.count() <= uncapped.count())
  }

  test("simhash signatures: 60-bit, deterministic") {
    val s1 = Dedup.simhashSignatures(docs, "doc_id", "text")
    assert(s1.filter(col("simhash") < 0 ||
      col("simhash") >= (1L << 60)).count() === 0L)
    val s2 = Dedup.simhashSignatures(docs, "doc_id", "text")
    assert(s1.exceptAll(s2).count() === 0L)
  }

  test("simhash near-dup pairs correspond to high jaccard") {
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3)
    if (sim.count() > 0) {
      val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0)
      val joined = sim.join(jac, Seq("id_i", "id_j"))
      val lowJac = joined.filter(col("jaccard") < 0.5).count()
      assert(lowJac === 0L,
        s"$lowJac simhash pairs have jaccard < 0.5 (false positives)")
    }
  }

  test("ANN recall vs brute-force top-k") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val k = 10
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k)
    val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", k)
    val nQ = queries.count()
    val hit = exact.select("query_id", "cand_id")
      .intersect(ann.select("query_id", "cand_id")).count()
    val recall = hit.toDouble / (nQ * k)
    info(f"ANN recall@$k = $recall%.3f over $nQ queries")
    // 8 tables × 4 planes, neighbors at cos≈0.4 (θ≈66°): per-table bucket
    // hit ≈ (1-θ/π)^4 ≈ 0.13, over 8 tables ≈ 0.67 expected recall
    assert(recall >= 0.4, f"ANN recall $recall%.3f below floor 0.4")
  }

  test("cosine pairs: threshold respected, i<j, cos in [-1,1]") {
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.42)
    assert(pairs.filter(col("cos_sim") < 0.42).count() === 0L)
    assert(pairs.filter(col("id_i") >= col("id_j")).count() === 0L)
  }

  test("LSH cosine pairs are a subset of brute-force pairs, non-empty") {
    val brute = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.42)
    val lsh = Dedup.embeddingCosinePairsLsh(emb, "vec_id", "embedding", 0.42)
    // every LSH pair must also be a brute-force pair with the same score
    assert(lsh.exceptAll(brute).count() === 0L,
      "LSH produced a pair brute force did not")
    val (nb, nl) = (brute.count(), lsh.count())
    info(s"LSH recall = $nl/$nb")
    assert(nl > 0, "LSH bucketing found no pairs at all")
  }

  test("dupClusters: transitive closure over a chain, min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4 (1≈4 never paired directly) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_i", "id_j")
    val c = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(c(_) == (1L, 4L)),
      s"chain did not collapse to cluster 1: $c")
    assert(Seq(10L, 11L).forall(c(_) == (10L, 2L)))
  }

  /** `f`'s result and the top-level SQL executions (Spark actions)
    * started while it ran. A marker job in its own group follows `f`: the
    * listener bus delivers in order, so once the marker's start is seen
    * every earlier execution start was counted.
    */
  private def withActionCount[T](f: => T): (T, Int) = {
    val marker = "dedup-spec-marker"
    val started = new AtomicInteger()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == marker)) markerSeen = true
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          started.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the marker job's start never arrived")
      (out, started.get())
    } finally sc.removeSparkListener(listener)
  }

  /** dupClusters' rows as id -> (cluster_id, cluster_size), and the
    * rounds it recorded in IterStats.
    */
  private def clustersOf(pairs: DataFrame): (Map[Long, (Long, Long)], Int) = {
    IterStats.drain()
    val c = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (c, IterStats.drain().getOrElse("dupClusters", 0))
  }

  test("dupClusters: a graph that converges in k rounds runs k + 1 " +
    "Spark actions (the edge list and one checkpoint per round)") {
    import spark.implicits._
    // labels settle after 3 rounds (4 takes 1's label last); the 4th
    // round confirms nothing fell
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_i", "id_j")
    IterStats.drain()
    val (clusters, actions) = withActionCount(Dedup.dupClusters(pairs))
    val k = IterStats.drain()("dupClusters")
    assert(k === 4)
    assert(actions === k + 1, s"$actions actions for $k rounds")
    assert(clusters.count() === 6L)
  }

  test("dupClusters: a 6-node chain and a two-component graph match " +
    "the hand-computed labels, sizes and rounds") {
    import spark.implicits._
    // 1-2-3-4-5-6 listed out of order, one pair reversed and one
    // repeated: 6 takes label 1 in round 5, round 6 confirms
    val chain = Seq((5L, 6L), (3L, 2L), (1L, 2L), (4L, 5L), (3L, 4L),
      (2L, 3L)).toDF("id_i", "id_j")
    assert(clustersOf(chain) ===
      ((1L to 6L).map(_ -> (1L, 6L)).toMap, 6))
    // path 3-7-9-12 (12 takes 3 in round 3) beside the triangle 20-21-22
    // (settled in round 1): 4 rounds in all
    val two = Seq((7L, 3L), (7L, 9L), (12L, 9L), (20L, 21L), (21L, 22L),
      (22L, 20L)).toDF("id_i", "id_j")
    assert(clustersOf(two) === (Map(
      3L -> (3L, 4L), 7L -> (3L, 4L), 9L -> (3L, 4L), 12L -> (3L, 4L),
      20L -> (20L, 3L), 21L -> (20L, 3L), 22L -> (20L, 3L)), 4))
  }

  test("dupClusters: empty pairs give an empty frame after one round " +
    "without blocking on the round's change count") {
    import spark.implicits._
    val local = Seq.empty[(Long, Long)].toDF("id_i", "id_j")
    val scanned = spark.range(0, 20).select(col("id").as("id_i"),
        (col("id") + 1).as("id_j"))
      .localCheckpoint()
      .filter(col("id_i") > 100)
    for (pairs <- Seq(local, scanned)) {
      val run = Future(clustersOf(pairs))(ExecutionContext.global)
      assert(Await.result(run, 2.minutes) === (Map.empty, 1))
    }
  }

  test("incremental minhash screen: index round-trips through the model " +
    "store; cross-split exact duplicate flagged at est 1.0") {
    import spark.implicits._
    val synth = Seq(
      (5L, "a b c d e f g h i j"),
      (7L, "a b c d e f g h i j"),
      (11L, "z y x w v u t s r q")).toDF("doc_id", "text")
    val newDocs = synth.filter(col("doc_id") % 5 === 0)
    val index = Dedup.minhashSignatures(
      synth.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, 32)
    // identical text ⇒ identical signatures ⇒ est exactly 1.0
    val hits = Dedup.minhashLshPairsAgainstIndex(newDocs, index,
      "doc_id", "text", 3, 32, 8, 0.75).collect()
    assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((5L, 7L)))
    assert(hits.head.getDouble(2) === 1.0)
    // the persisted index (S11 parquet parameter table) screens the same
    val dir = tempDir("graft_mh_idx")
      .resolve("idx").toString
    graft.ops.Models.saveModel(index, dir)
    val viaStore = Dedup.minhashLshPairsAgainstIndex(newDocs,
      graft.ops.Models.loadModel(spark, dir), "doc_id", "text", 3, 32, 8,
      0.75)
    assert(viaStore.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((5L, 7L, 1.0)))
    // on the real corpus: endpoints respect the split, est bounded
    val pairs = Dedup.minhashLshPairsAgainstIndex(
      docs.filter(col("doc_id") % 5 === 0),
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 3, 32),
      "doc_id", "text", 3, 32, 8, 0.75)
    assert(pairs.filter(col("id_new") % 5 =!= 0 ||
      col("id_index") % 5 === 0).count() === 0L)
    assert(pairs.filter(col("est_jaccard") < 0.75 ||
      col("est_jaccard") > 1.0).count() === 0L)
  }

  test("dupClustersStar: adversarial long chain collapses in O(log n) " +
    "rounds; labels match the propagation algorithm") {
    import spark.implicits._
    // a 41-node path (diameter 40): min-label propagation would need 40
    // rounds — the star rounds must finish well inside the default budget
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_i", "id_j")
    val c = Dedup.dupClustersStar(chain).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c.size === 41)
    assert((0L to 40L).forall(c(_) == (0L, 41L)),
      s"chain did not collapse to one min-rooted cluster: $c")

    // same decisions as dupClusters on the real near-dup graph
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val star = Dedup.dupClustersStar(pairs)
    val prop = Dedup.dupClusters(pairs)
    assert(star.exceptAll(prop).count() === 0L &&
      prop.exceptAll(star).count() === 0L,
      "star and propagation clusterings disagree")
  }

  test("leakageFreeSplit: near-dup clusters never straddle folds; " +
    "unclustered docs follow their own id bucket") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val clusters = Dedup.dupClusters(pairs)
    val split = graft.ops.Curation.leakageFreeSplit(docs, clusters,
      "doc_id", 0.8)
    // every doc assigned exactly once
    assert(split.count() === docs.count())
    // leakage-freedom: no cluster contains both train and test members
    val straddling = split.join(clusters.withColumnRenamed("id", "doc_id"),
      "doc_id")
      .groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_folds"))
      .filter(col("n_folds") > 1)
    assert(straddling.count() === 0L, "a duplicate cluster straddles folds")
    // both folds are non-empty at 80/20 over 500 docs
    assert(split.filter(col("split") === "train").count() > 0L)
    assert(split.filter(col("split") === "test").count() > 0L)
    // deterministic: re-run identical (two-sided set equality)
    val rerun = graft.ops.Curation.leakageFreeSplit(docs, clusters,
      "doc_id", 0.8)
    assert(rerun.exceptAll(split).count() === 0L &&
      split.exceptAll(rerun).count() === 0L)
  }

  test("dupClusters + resolveDuplicates keep one doc per cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val clusters = Dedup.dupClusters(pairs)
    // every pair's endpoints landed in the same cluster
    val split = pairs
      .join(clusters.withColumnRenamed("id", "id_i")
        .withColumnRenamed("cluster_id", "ci"), "id_i")
      .join(clusters.withColumnRenamed("id", "id_j")
        .withColumnRenamed("cluster_id", "cj"), "id_j")
      .filter(col("ci") =!= col("cj")).count()
    assert(split === 0L, s"$split pairs straddle clusters")
    val kept = Dedup.resolveDuplicates(docs, clusters, "doc_id")
    val nClusters = clusters.select("cluster_id").distinct().count()
    val clustered = clusters.count()
    assert(kept.count() === docs.count() - clustered + nClusters)
    // keepers survive, non-keepers don't
    assert(kept.join(clusters.filter(col("id") =!= col("cluster_id"))
      .withColumnRenamed("id", "doc_id"), Seq("doc_id")).count() === 0L)
  }

  test("resolveDuplicatesByQuality: keeps the highest-quality doc per " +
    "cluster (ties to min id), leaves unclustered docs alone") {
    import spark.implicits._
    val frame = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L),  // cluster A: 2 and 3 tie -> keep 2
      (4L, 99L),                        // cluster B: alone in list
      (5L, 7L)                          // unclustered
    ).toDF("doc_id", "q")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),     // cluster A labeled 1
      (4L, 4L)                          // singleton cluster
    ).toDF("id", "cluster_id")
    val kept = Dedup.resolveDuplicatesByQuality(frame, clusters,
      "doc_id", "q").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L))
    // same clusters with min-id policy keeps doc 1 instead
    val minId = Dedup.resolveDuplicates(frame, clusters, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId === Set(1L, 4L, 5L))
  }

  test("resolveDuplicatesByQuality: equal-quality ties go to the smallest " +
    "id and a NULL quality ranks below every value") {
    import spark.implicits._
    val frame = Seq[(Long, Option[Long])](
      (1L, Some(50L)), (2L, Some(50L)), (3L, None),  // A: tie -> 1
      (4L, None), (5L, None),                        // B: all NULL -> 4
      (6L, Some(3L)), (7L, None), (8L, Some(9L)),    // C: 8
      (10L, Some(5L)), (11L, Some(5L)),              // D: tie -> 10
      (12L, None)                                    // unclustered
    ).toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 6L), (8L, 6L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val kept = Dedup.resolveDuplicatesByQuality(frame, clusters,
      "doc_id", "q").orderBy("doc_id").as[(Long, Option[Long])].collect()
    assert(kept.toSeq === Seq((1L, Some(50L)), (4L, None), (8L, Some(9L)),
      (10L, Some(5L)), (12L, None)))
  }

  test("autoPlanes: occupancy-stabilizing plane count, exact at power-of-" +
    "two boundaries; auto form == fixed form when the floor binds") {
    // ceil boundaries: v = n/16 exactly a power of two must NOT round up
    assert(Dedup.autoPlanes(2048L, 1, 16) === 7)   // v=128 -> 7
    assert(Dedup.autoPlanes(2049L, 1, 16) === 8)   // v=129 -> 8
    assert(Dedup.autoPlanes(2000L, 6, 16) === 7)   // sf0.1 corpus
    assert(Dedup.autoPlanes(20000L, 6, 16) === 11) // sf1 corpus
    assert(Dedup.autoPlanes(640L, 6, 16) === 6)    // sf0.01: floor binds
    assert(Dedup.autoPlanes(10L, 6, 16) === 6)     // tiny: floor binds
    // when the floor binds, the auto gate IS the fixed-plane gate
    import spark.implicits._
    val emb = Seq.tabulate(40)(i =>
      (i.toLong, Array.tabulate(8)(d => (i * d % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding")
    val auto = Dedup.embeddingCosinePairsLshAuto(emb, "vec_id",
      "embedding", threshold = 0.42, tables = 2, minPlanes = 6,
      targetPerBucket = 16)
    val fixed = Dedup.embeddingCosinePairsLsh(emb, "vec_id", "embedding",
      threshold = 0.42, tables = 2, planes = 6)
    assert(auto.collect().toSeq === fixed.collect().toSeq)
  }

  test("editDistancePairs: prefix blocking bounds candidates; distance " +
    "on the capped prefix; threshold filters") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "the quick brown fox jumped over"),   // dist 2 from doc 1
      //     (jumps → jumped: substitute s→e, insert d)
      (3L, "the quick brown fox sprints far"),   // dist > 3 from 1 and 2
      (4L, "a different opening entirely here")  // other block
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, "doc_id", "text",
      blockTokens = 4, capChars = 80, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out === Array((1L, 2L, 2)))
    // raising the threshold admits the same-block farther pairs but
    // never the cross-block one
    val wide = Dedup.editDistancePairs(docs, "doc_id", "text",
      blockTokens = 4, capChars = 80, maxDist = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(wide.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("hardNegativePairs: picks the most similar NON-duplicate; the " +
    "near-duplicate with higher cosine is excluded") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),  // near-dup of 1 (cos ≈ 0.999)
      (3L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),  // similar-but-distinct (≈ 0.74)
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.hardNegativePairs(emb, "vec_id", "embedding",
      dupThreshold = 0.95, tables = 8, planes = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // anchor 1's highest-cosine candidate is its near-dup 2 — excluded;
    // the hard negative is 3, the just-below-the-line neighbor
    assert(out(1L)._1 === 3L)
    assert(out(1L)._2 > 0.7 && out(1L)._2 < 0.95)
    assert(out(2L)._1 === 3L, "same for the other side of the dup pair")
  }

  test("decontaminateByEmbedding: near-parallel train vectors are " +
    "flagged with their worst eval offender; orthogonal ones pass") {
    import spark.implicits._
    // eval 100 ≈ train 1 (slightly perturbed) and exactly train 2
    // (scaled copy — cosine 1); train 3 is orthogonal to everything
    val train = Seq(
      (1L, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val eval_ = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.decontaminateByEmbedding(train, eval_, "vec_id",
      "embedding", threshold = 0.9, tables = 8, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L),
      "both near-parallel train vectors flag, the orthogonal one passes")
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === 100L && byId(1L)._3 > 0.99)
    assert(byId(2L)._3 === 1.0, "scaled copy has cosine exactly 1")
  }

  test("decontaminateMulti: a planted 13-token leak flags at n = 8 and " +
    "n = 13 but not n = 20, with the offending train doc named") {
    import spark.implicits._
    val span = (1 to 13).map(i => s"leak$i").mkString(" ")
    val filler = (1 to 30).map(i => s"noise$i").mkString(" ")
    val train = Seq(
      (1L, s"$filler $span"), // carries the leaked 13-token span
      (2L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, s"intro words then $span and a tail here"),
      (101L, (1 to 25).map(i => s"clean$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateMulti(train, eval_, "doc_id", "text",
      ns = Seq(8, 13, 20)).collect()
      .map(r => (r.getAs[Int]("n"), r.getAs[Long]("eval_id")) ->
        (r.getAs[Long]("n_shared"), Option(r.getAs[Any]("worst_train_id"))))
      .toMap
    assert(out.size === 6, "one row per (n, eval doc), clean docs too")
    // a shared 13-token span contains 13-8+1 = 6 8-grams and one
    // 13-gram, but no 20-gram
    assert(out((8, 100L))._1 === 6L &&
      out((8, 100L))._2 === Some(1L))
    assert(out((13, 100L))._1 === 1L &&
      out((13, 100L))._2 === Some(1L))
    assert(out((20, 100L))._1 === 0L && out((20, 100L))._2 === None,
      "no verbatim 20-token span exists — the leak is localized to ~13")
    // the clean eval doc is PRESENT at every n with zero overlap
    assert(Seq(8, 13, 20).forall(n => out((n, 101L))._1 === 0L))
  }

  test("noveltyRates: known text scores 0, unseen text 1, a half-known " +
    "doc scores its exact miss fraction") {
    import spark.implicits._
    val ref = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, "a b c d e"),        // all 3 shingles known → 0
      (2L, "x y z w"),          // both shingles unseen → 1
      (3L, "a b c x y z")       // {abc known, bcx, cxy, xyz novel} → 3/4
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyRates(inc, ref, "doc_id", "text", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out === Array(
      (1L, 3L, 0L, 0.0),
      (2L, 2L, 2L, 1.0),
      (3L, 4L, 3L, 0.75)))
  }

  test("containmentPairs: a fragment inside a superset doc scores 1.0 " +
    "in the fragment direction and < 1 in the reverse; unrelated docs " +
    "never pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),                  // fragment: shingles {abc, bcd}
      (2L, "a b c d e f g"),            // superset: 5 shingles, incl both
      (3L, "x y z w v u t")             // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSet === Set(
      (1L, 2L, 2L, 2L, 1.0),            // both fragment shingles in 2
      (2L, 1L, 2L, 5L, 0.4)))           // reverse direction dilutes
  }

  test("boilerplateSourceReport: cross-source shared lines pair the " +
    "sources, within-source repeats need two docs, unique lines never " +
    "report") {
    import spark.implicits._
    val d = Seq(
      // banner shared across sources a and b (one doc each) -> (a,b)
      (1L, "a", "breaking banner\nalpha beta gamma"),
      (2L, "b", "breaking banner\ndelta epsilon zeta"),
      // source a footer in two docs of a -> (a,a); doc 1 has no footer
      (3L, "a", "eta theta iota\nfooter of a"),
      (4L, "a", "kappa lambda mu\nfooter of a"),
      // source c: a qualified-nowhere unique doc -> no rows at all
      (5L, "c", "nu xi omicron")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.boilerplateSourceReport(d, "doc_id", "text",
      "source").collect()
      .map(r => (r.getAs[String]("source_lo"),
        r.getAs[String]("source_hi")) -> r.getAs[Long]("n_shared_lines"))
      .toMap
    // banner: cross pair (a,b) but NOT self rows (only 1 doc per side);
    // footer: self row (a,a) only
    assert(out === Map(("a", "b") -> 1L, ("a", "a") -> 1L))
  }

  test("substringSourceReport: cross-source shared spans pair the " +
    "sources, within-source repeats need two docs, unique spans " +
    "never report") {
    import spark.implicits._
    val p = (1 to 8).map(i => s"s$i").mkString(" ")
    val f = (1 to 8).map(i => s"f$i").mkString(" ")
    val d = Seq(
      // the 8-token passage shared across sources a and b -> (a, b)
      (1L, "a", s"alpha beta $p"),
      (2L, "b", s"$p gamma delta"),
      // source-a footer span in two docs of a -> (a, a)
      (3L, "a", s"eta theta $f"),
      (4L, "a", s"kappa lambda $f"),
      // a unique 8-token doc: qualifies nowhere -> no rows at all
      (5L, "c", "nu xi omicron pi rho sigma tau upsilon")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.substringSourceReport(d, "doc_id", "text",
      "source", k = 8).collect()
      .map(r => (r.getAs[String]("source_lo"),
        r.getAs[String]("source_hi")) -> r.getAs[Long]("n_shared_spans"))
      .toMap
    assert(out === Map(("a", "b") -> 1L, ("a", "a") -> 1L))
  }

  test("lineDedup: a boilerplate footer shared by k docs survives in " +
    "exactly one; singleton lines untouched; accounting reconciles") {
    import spark.implicits._
    val footer = "subscribe to our newsletter"
    val d = Seq(
      (1L, s"alpha beta\n$footer"),
      (2L, s"gamma delta\n$footer\nepsilon"),
      // cosmetic variation must still hit the same dup key…
      (3L, s"zeta eta\n  Subscribe  TO our   Newsletter "),
      // …and a WITHIN-doc repeat of a non-cross-doc line is kept (both
      // copies): rhetoric, not chrome
      (4L, "solo line\nrepeat me\nrepeat me"),
      // empty lines are structure: never deduped, always kept
      (5L, "theta\n\niota"),
      (6L, "theta iota kappa")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // footer kept only at its (min id, min pos) occurrence = doc 1 pos 1
    assert(out(1L).getAs[String]("text_clean") === s"alpha beta\n$footer")
    assert(out(2L).getAs[String]("text_clean") === "gamma delta\nepsilon")
    assert(out(3L).getAs[String]("text_clean") === "zeta eta")
    // within-doc repeat survives twice; doc untouched end-to-end
    assert(out(4L).getAs[String]("text_clean") ===
      "solo line\nrepeat me\nrepeat me")
    assert(out(4L).getAs[Long]("n_chars_removed") === 0L)
    // empty middle line survives re-assembly byte-exact
    assert(out(5L).getAs[String]("text_clean") === "theta\n\niota")
    assert(out(6L).getAs[String]("text_clean") === "theta iota kappa")
    // accounting: kept + removed = original lines, for every doc
    assert(out.values.forall(r => r.getAs[Long]("n_lines_kept") +
      r.getAs[Long]("n_lines_removed") === r.getAs[Long]("n_lines")))
    assert(out(2L).getAs[Long]("n_lines_removed") === 1L)
    assert(out(3L).getAs[Long]("n_lines_removed") === 1L)
    // a doc that is ALL boilerplate rewrites to the empty string
    val all = Seq((10L, "only line"), (11L, "only line"), (12L, "only line"))
      .toDF("doc_id", "text")
    val gone = Dedup.lineDedup(all, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean"))
      .toMap
    assert(gone(10L) === "only line" && gone(11L) === "" && gone(12L) === "")
  }

  test("substringDedup: a 60-token passage shared by 3 docs survives " +
    "in exactly one; a k-1 overlap is untouched; accounting reconciles") {
    import spark.implicits._
    val passage = (1 to 60).map(i => s"pass$i").mkString(" ")
    val seven = (1 to 7).map(i => s"ov$i").mkString(" ")
    val d = Seq(
      (1L, s"intro one two three $passage outro alpha"),
      (2L, s"second doc begins here now $passage tail beta gamma"),
      (3L, passage),
      // exactly k-1 = 7 shared tokens in different contexts: no
      // 8-token span matches, both docs pass through byte-exact
      (4L, s"first context words $seven closing remark here"),
      (5L, s"other framing text $seven different ending words")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, "doc_id", "text", k = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the passage survives only in the (min id) doc, byte-exact
    assert(out(1L).getAs[String]("text_clean") ===
      s"intro one two three $passage outro alpha")
    assert(out(2L).getAs[String]("text_clean") ===
      "second doc begins here now tail beta gamma")
    assert(out(3L).getAs[String]("text_clean") === "")
    assert(out(4L).getAs[String]("text_clean") ===
      s"first context words $seven closing remark here")
    assert(out(5L).getAs[String]("text_clean") ===
      s"other framing text $seven different ending words")
    // the passage text exists exactly once across the cleaned corpus
    assert(out.values.count(
      _.getAs[String]("text_clean").contains(passage)) === 1)
    // accounting: kept + removed = original, for every doc
    assert(out.values.forall(r => r.getAs[Long]("n_tokens_kept") +
      r.getAs[Long]("n_tokens_removed") === r.getAs[Long]("n_tokens")))
    assert(out(2L).getAs[Long]("n_tokens_removed") === 60L)
    assert(out(4L).getAs[Long]("n_tokens_removed") === 0L)
  }

  test("substringDedup: keeper protection — an overlapping non-keeper " +
    "span never mutilates a canonical copy; within-doc repeats of a " +
    "qualifying span lose the later copy; NULL text never drops") {
    import spark.implicits._
    val s2 = (1 to 8).map(i => s"c$i").mkString(" ")      // span S2
    val pre = (1 to 4).map(i => s"k$i").mkString(" ")     // S1 = pre+c1..c4
    val d = Seq(
      (19L, s2),                                          // S2 keeper
      (20L, s"$pre $s2"),                                 // S1 keeper + S2 non-keeper overlap
      (21L, s"$pre c1 c2 c3 c4 z1 z2 z3 z4")              // S1 non-keeper
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, "doc_id", "text", k = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean"))
      .toMap
    assert(out(19L) === s2)
    // doc 20: tokens 4-7 are covered by BOTH its S1 keeper and the
    // non-keeper S2 occurrence — protection keeps them; tokens 8-11
    // (S2 tail, non-keeper only) go
    assert(out(20L) === s"$pre c1 c2 c3 c4")
    assert(out(21L) === "z1 z2 z3 z4")
    // a doc repeating a CROSS-DOC qualifying passage keeps only the
    // first (min pos) copy
    val p = (1 to 12).map(i => s"q$i").mkString(" ")
    val rep = Seq((30L, s"$p and again $p"), (31L, s"elsewhere too $p"))
      .toDF("doc_id", "text")
    val r = Dedup.substringDedup(rep, "doc_id", "text", k = 8).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text_clean"))
      .toMap
    assert(r(30L) === s"$p and again")
    assert(r(31L) === "elsewhere too")
    // NULL text: visible zero-accounting row
    val withNull = Seq((40L, "plain text stays"),
      (41L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val n = Dedup.substringDedup(withNull, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(n.keySet === Set(40L, 41L))
    assert(n(41L).getAs[Long]("n_tokens") === 1L &&
      n(41L).getAs[String]("text_clean") === "")
  }

  test("substringSpanIndex + substringScreenAgainstIndex: only cross-doc " +
    "qualifying digests index; overlapping hit spans count tokens ONCE " +
    "(exact interval union); clean docs yield no row") {
    import spark.implicits._
    // the 6-token passage a..f is shared by two index docs with
    // DIFFERENT flanks, so exactly its three interior 4-spans qualify
    val idx = Dedup.substringSpanIndex(Seq(
        (1L, "x a b c d e f y"),
        (2L, "z a b c d e f w"),
        (3L, "totally unrelated content in the third document here"))
        .toDF("doc_id", "text"), "doc_id", "text", k = 4, minDocs = 2)
      .localCheckpoint()
    assert(idx.count() === 3L) // "a b c d", "b c d e", "c d e f"
    assert(idx.collect().forall(_.getAs[Long]("n_docs") === 2L))
    val out = Dedup.substringScreenAgainstIndex(Seq(
        (10L, "a b c d e f"),            // all 3 spans hit, overlap
        (11L, "p q a b c d r s"),        // 1 hit span mid-doc
        (12L, "nothing shared here at all today"),
        (13L, "tiny"))                   // shorter than k: no spans
        .toDF("doc_id", "text"), idx, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // clean and too-short docs are absent — the honest screen answer
    assert(out.keySet === Set(10L, 11L))
    // 3 overlapping hit spans cover tokens 0..5 = SIX tokens, not 12
    assert(out(10L).getAs[Long]("n_tokens") === 6L)
    assert(out(10L).getAs[Long]("n_spans") === 3L)
    assert(out(10L).getAs[Long]("n_hit_spans") === 3L)
    assert(out(10L).getAs[Long]("n_flagged_tokens") === 6L)
    assert(out(10L).getAs[Double]("flag_rate") === 1.0)
    assert(out(11L).getAs[Long]("n_hit_spans") === 1L)
    assert(out(11L).getAs[Long]("n_flagged_tokens") === 4L)
    assert(out(11L).getAs[Double]("flag_rate") === 0.5)
  }

  test("substringSpanIndex round-trips through parquet (the S11 " +
    "publish shape): the screen run off the RELOADED table equals the " +
    "screen run off the live frame") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x a b c d e f y"),
      (2L, "z a b c d e f w"),
      (3L, "totally unrelated content in the third document here"))
      .toDF("doc_id", "text")
    val live = Dedup.substringSpanIndex(corpus, "doc_id", "text",
      k = 4, minDocs = 2)
    val dir = tempDir("span_idx").toString
    live.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val batch = Seq((10L, "a b c d e f"), (11L, "p q a b c d r s"))
      .toDF("doc_id", "text")
    val a = Dedup.substringScreenAgainstIndex(batch, live,
      "doc_id", "text", k = 4).collect().toSeq
    val b = Dedup.substringScreenAgainstIndex(batch, reloaded,
      "doc_id", "text", k = 4).collect().toSeq
    assert(a === b)
    assert(reloaded.schema.fieldNames.toSeq ===
      Seq("span_fp", "n_docs"))
  }

  test("substringSpanStateMerge: merge(state(a), b) ≡ rebuild(a ∪ b) " +
    "bit-for-bit (the mergeAggStates identity) through a parquet " +
    "round-trip of the state; a digest seen once on EACH side " +
    "qualifies after the merge — the case a thresholded artifact " +
    "cannot express") {
    import spark.implicits._
    // 'a b c d' occurs once in the OLD corpus and once in the BATCH;
    // 'q w e r t y' spans likewise split 1+1 across the epochs
    val old_ = Seq(
      (1L, "x x a b c d"),
      (2L, "q w e r t y"),
      (3L, "totally unrelated content in the third document here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d z z"),
      (11L, "q w e r t y")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the state round-trips through parquet between epochs (the S11
    // publish shape — what a real ingest loop persists)
    val dir = tempDir("span_state").toString
    Dedup.substringSpanState(old_, "doc_id", "text", k = 4)
      .write.mode("overwrite").parquet(dir)
    val merged = Dedup.substringSpanStateMerge(
      spark.read.parquet(dir), batch, "doc_id", "text", k = 4)
    val rebuiltState =
      Dedup.substringSpanState(old_.unionByName(batch), "doc_id",
        "text", k = 4)
    assert(rows(merged) === rows(rebuiltState))
    val mergedIdx = Dedup.substringSpanIndexFromState(merged)
    assert(rows(mergedIdx) ===
      rows(Dedup.substringSpanIndex(old_.unionByName(batch), "doc_id",
        "text", k = 4)))
    // the 1+1 digests really are NEW qualifications: absent from the
    // old epoch's published index, present after the merge
    val oldIdx = rows(Dedup.substringSpanIndex(old_, "doc_id", "text",
      k = 4)).map(_._1).toSet
    val gained = rows(mergedIdx).map(_._1).filterNot(oldIdx)
    assert(gained.nonEmpty,
      "expected cross-epoch 1+1 digests to qualify after the merge")
    assert(rows(mergedIdx).toMap.view.filterKeys(gained.toSet.contains)
      .values.forall(_ === 2L))
  }

  test("minhashIndexMerge: a mixed re-crawl + new-doc batch merges to " +
    "exactly the from-scratch rebuild of the post-crawl corpus — " +
    "stale rows evicted, fresh rows signed once") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z y x w v u t s r q"),
      (3L, "k l m n o p q r s t")).toDF("doc_id", "text")
    // doc 2 returns with amended text (REPLACE); doc 9 is new (APPEND)
    val batch = Seq(
      (2L, "z y x w v u t s r q updated edition"),
      (9L, "fresh new document text arriving today just now"))
      .toDF("doc_id", "text")
    val merged = Dedup.minhashIndexMerge(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32),
      batch, "doc_id", "text", 3, 32)
    val rebuilt = Dedup.minhashSignatures(
      corpus.filter(col("doc_id") =!= 2L).unionByName(batch),
      "doc_id", "text", 3, 32)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(merged) === rows(rebuilt))
    assert(merged.columns.toSeq ===
      Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32)
        .columns.toSeq)
  }

  test("lineDedup: a NULL-text doc yields a visible zero-accounting " +
    "row (one empty kept line), never a silent drop") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta\nshared footer"),
      (2L, "gamma delta\nshared footer"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(3L).getAs[Long]("n_lines") === 1L)
    assert(out(3L).getAs[Long]("n_lines_kept") === 1L)
    assert(out(3L).getAs[Long]("n_lines_removed") === 0L)
    assert(out(3L).getAs[Long]("n_chars_removed") === 0L)
    assert(out(3L).getAs[String]("text_clean") === "")
    // the dedup itself is unperturbed by the null row
    assert(out(2L).getAs[String]("text_clean") === "gamma delta")
  }

  test("lshCalibrate: S-curve values match the closed form, the flat " +
    "split floods FPs, the tall split floods FNs, and exactly one " +
    "split is chosen") {
    val out = Dedup.lshCalibrate(spark, numHashes = 128,
      threshold = 0.5, gridLog2 = 4).collect()
      .map(r => (r.getAs[Int]("b"), r)).toMap
    assert(out.size === 8)
    out.foreach { case (b, r) =>
      assert(b * r.getAs[Int]("r") === 128)
      // closed form check (repeated squaring == pow up to float noise,
      // and round-6 published values sit within 1e-6 of it)
      val rr = r.getAs[Int]("r")
      val expect = 1.0 - math.pow(1.0 - math.pow(0.5, rr), b)
      assert(math.abs(r.getAs[Double]("p_at_threshold") - expect) < 1e-6,
        s"p_at_threshold for b=$b")
      val fp = r.getAs[Double]("fp_mass")
      val fn = r.getAs[Double]("fn_mass")
      assert(fp >= 0 && fn >= 0 && fp <= 1 && fn <= 1)
      assert(math.abs(r.getAs[Double]("total_err") - (fp + fn)) < 2e-6)
    }
    // b=128, r=1: everything collides -> max FP mass, min FN mass
    val flat = out(128); val tall = out(1)
    assert(flat.getAs[Double]("fp_mass") ===
      out.values.map(_.getAs[Double]("fp_mass")).max)
    assert(flat.getAs[Double]("fn_mass") ===
      out.values.map(_.getAs[Double]("fn_mass")).min)
    // b=1, r=128: nothing collides below 1 -> min FP, max FN
    assert(tall.getAs[Double]("fp_mass") ===
      out.values.map(_.getAs[Double]("fp_mass")).min)
    assert(tall.getAs[Double]("fn_mass") ===
      out.values.map(_.getAs[Double]("fn_mass")).max)
    // exactly one chosen, and it minimizes total error
    val chosen = out.values.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.size === 1)
    assert(chosen.head.getAs[Double]("total_err") ===
      out.values.map(_.getAs[Double]("total_err")).min)
  }

  test("substringLadder: a 9-token duplicated span is caught by the " +
    "k=8 rung with exact union coverage 9 and dies at k=16; rung " +
    "coverage is monotone non-increasing") {
    import spark.implicits._
    // two docs share EXACTLY a 9-token run; everything else is unique,
    // and both docs are 19 tokens so the k=16 rung has windows to test
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = Seq(
      (1L, s"u1a u1b u1c u1d u1e $shared u1f u1g u1h u1i u1j"),
      (2L, s"u2a u2b u2c u2d u2e $shared u2f u2g u2h u2i u2j"),
      (3L, "u3a u3b u3c u3d u3e u3f u3g u3h u3i u3j u3k u3l u3m u3n " +
        "u3o u3p u3q u3r u3s")).toDF("doc_id", "text")
    val out = Dedup.substringLadder(d, "doc_id", "text",
      ks = Seq(8, 16), minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // k=8: the 9-token run holds two qualifying 8-windows (start, +1);
    // interval union = 8 + min(8, 1) = 9 covered tokens. k=16: every
    // window crosses unique filler -> no qualifying span, NO row.
    val rate = BigDecimal(9.0 / 19)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq === Seq(
      (1L, 8, 19L, 2L, 9L, rate),
      (2L, 8, 19L, 2L, 9L, rate)))
  }

  test("substringLadder: rung coverage is monotone non-increasing in k " +
    "on a corpus with a 37-token injected blurb, and the widest rung " +
    "still fires") {
    import spark.implicits._
    val blurb = "this dataset is distributed in the hope that it will " +
      "be useful but without any warranty without even the implied " +
      "warranty of merchantability or fitness for a particular purpose " +
      "see the general public license for more details"
    val injected = docs.limit(200).select(col("doc_id"), concat(
      when(col("doc_id") % 5 === 0, lit(blurb + " ")).otherwise(lit("")),
      coalesce(col("text"), lit(""))).as("text"))
    val out = Dedup.substringLadder(injected, "doc_id", "text",
      ks = Seq(8, 16, 32), minDocs = 2).collect()
    assert(out.nonEmpty)
    // the 37-token blurb must light the k=32 rung on every injected doc
    // (the synthetic corpus also repeats its own 32-token runs, so the
    // rung may fire on other docs and with more than the blurb's 6
    // windows — the INJECTED docs' coverage floor is what's provable)
    val k32 = out.filter(_.getInt(1) === 32).map(r =>
      r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    injected.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 5 === 0L).foreach { id =>
        val (nh, cov) = k32(id)
        assert(nh >= 6L && cov >= 37L)
      }
    // survival curve: per doc, coverage non-increasing as k grows
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byK = rs.sortBy(_.getInt(1)).map(_.getLong(4)).toSeq
      assert(byK === byK.sorted.reverse)
    }
  }
}
