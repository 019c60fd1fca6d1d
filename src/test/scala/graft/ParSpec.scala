package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{Graph, IterStats, Par, Similarity}

/** [[Par.iterate]]'s contract, through the primitive itself and through
  * the operators built on it: superseded round checkpoints are really
  * released, the caller's `init` is never released, and each loop
  * records its round count in [[IterStats]].
  */
class ParSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `run`'s result, and the ids of the RDDs it persisted that are
    * still persisted after it.
    */
  private def leftBehind[T](run: => T): (T, Set[Int]) = {
    val before = persistedIds
    val out = run
    (out, persistedIds -- before)
  }

  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst {
      case lr: LogicalRDD => lr.rdd.id
    }.get

  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    .toDF("src", "dst")

  test("pageRank leaves as many persisted RDDs behind after 10 rounds " +
    "as after 2") {
    val (_, two) = leftBehind(Graph.pageRank(chain, "src", "dst", 2))
    val (_, ten) = leftBehind(Graph.pageRank(chain, "src", "dst", 10))
    assert(ten.size === two.size, s"2 rounds: $two, 10 rounds: $ten")
  }

  test("a loop never releases its init, even a lazy frame over a caller " +
    "checkpoint, and releases every round but the last") {
    val corpus = spark.range(0, 50).toDF("x").localCheckpoint()
    val init = corpus.select((col("x") * 2).as("x"))
    val (out, held) = leftBehind {
      Par.iterate("parSpecProbe", 4, init) { (cur, r) =>
        cur.select((col("x") + r).as("x"))
      }
    }
    assert(held === Set(checkpointRdd(out)))
    assert(persistedIds.contains(checkpointRdd(corpus)))
    assert(corpus.as[Long].collect().sorted.toSeq === (0L until 50L))
    // 2x + (1 + 2 + 3 + 4)
    assert(out.as[Long].collect().sorted.toSeq ===
      (0L until 50L).map(_ * 2 + 10))
    assert(IterStats.drain().get("parSpecProbe") === Some(4))
  }

  test("ivfCentroids keeps the caller's corpus checkpoint and holds one " +
    "centroid checkpoint whatever the iteration count") {
    val corpus = (0 until 40).map(i =>
        (i.toLong, Array(math.sin(i), math.cos(i), (i % 5).toDouble)))
      .toDF("id", "v").localCheckpoint()
    val (_, one) = leftBehind(Similarity.ivfCentroids(corpus, "id", "v",
      nCells = 3, iters = 1))
    val (_, four) = leftBehind(Similarity.ivfCentroids(corpus, "id", "v",
      nCells = 3, iters = 4))
    assert(four.size === one.size, s"1 iteration: $one, 4: $four")
    assert(persistedIds.contains(checkpointRdd(corpus)))
    assert(corpus.count() === 40L)
  }

  test("semDedup holds only the probe file and the cluster labels " +
    "once it returns") {
    // 40 unit vectors 9 degrees apart (cosine 0.988 between neighbours)
    // plus a near-copy of every 10th (id + 100), which loses on quality,
    // so the pair pass and the closure see real pairs
    def at(a: Double) = Array(math.cos(a), math.sin(a))
    val step = 2 * math.Pi / 40
    val rows = (0 until 40).map(i => (i.toLong, at(i * step), 10L))
    val copies = (0 until 40 by 10).map(i =>
      (i + 100L, at(i * step + 1e-4), 9L))
    val corpus = (rows ++ copies).toDF("id", "v", "q")
    val (out, held) = leftBehind(Similarity.semDedup(corpus, "id", "v",
      "q", threshold = 0.99, nCells = 3, iters = 2))
    assert(held.size <= 2, s"persisted after semDedup: $held")
    assert(out.select("id").as[Long].collect().toSeq === (0L until 40L))
  }

  test("pageRank and hits record their round counts in IterStats") {
    IterStats.drain()
    Graph.pageRank(chain, "src", "dst", iterations = 3)
    Graph.hits(chain, "src", "dst", iterations = 5)
    assert(IterStats.drain() === Map("pageRank" -> 3, "hits" -> 5))
  }
}
