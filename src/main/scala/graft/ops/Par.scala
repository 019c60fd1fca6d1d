package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.count_if

/** Input-parallelism guard for CPU-dense kernels. A source with fewer
  * input splits than the session's parallelism (here: the driver
  * testdata's single-row-group parquet files — every scan is ONE task)
  * serializes everything up to the first shuffle: shingle explosion, md5
  * hashing, regex batteries all run on one core while 31 idle. The guard
  * round-robins such under-split inputs out to full width first — one
  * tiny shuffle of the RAW rows (cheap by definition: the input is small
  * enough to be under-split) buying full-width execution of the
  * expansion stage. On a properly-split table (any real 100 TB layout)
  * the condition is false and this is a no-op, so the guard cannot
  * introduce a gratuitous corpus-wide shuffle at scale.
  *
  * The probe is plan-inspection only — it never touches `df.rdd`, which
  * under AQE would eagerly MATERIALIZE upstream shuffle stages (running
  * real jobs at DataFrame-construction time) for any non-scan-rooted
  * input. The guard applies ONLY to scan-rooted narrow plans
  * (projections/filters/generates over leaves): anything wider —
  * aggregates, joins, windows, sorts, repartitions — already runs its
  * downstream stages at shuffle width, so the frame passes through
  * untouched. (The wide check must look at the LOGICAL plan:
  * `sparkPlan` is pre-EnsureRequirements, so aggregate/join-induced
  * exchanges are not visible there.) For the narrow case, parallelism
  * is bounded by the leaf scans' input-split count, read from each file
  * scan's `inputRDDs()` (driver-side file-listing arithmetic, no job).
  * Non-file leaves (local relations, range) are left alone — they are
  * driver-local constants, not corpus scans.
  */
private[graft] object Par {
  def ensure(df: DataFrame): DataFrame = {
    // streaming frames can't be probed this way (and micro-batch
    // parallelism is the source's concern) — pass them through untouched
    if (df.isStreaming) return df
    // Union and LocalLimit are shuffle-free too — without them a union
    // of under-split scans would bypass the guard and run single-task.
    // GlobalLimit stays EXCLUDED deliberately: it plans a gather to one
    // partition, so repartitioning beneath it buys nothing.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, Generate, LeafNode, LocalLimit, Project, SubqueryAlias, Union}
    val wide = df.queryExecution.analyzed.exists {
      case _: Project | _: Filter | _: SubqueryAlias | _: Generate => false
      case _: Union | _: LocalLimit => false
      case _: LeafNode => false
      case _ => true
    }
    if (wide) return df
    // past the wide check the plan is narrow over leaves — no exchange can
    // exist in it, so the only parallelism bound is the leaf scans' splits
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    val fileSplits = plan.collectLeaves().collect {
      case f: FileSourceScanExec => f.inputRDDs().map(_.getNumPartitions).sum
    }
    if (fileSplits.nonEmpty && fileSplits.sum < target) df.repartition(target)
    else df
  }

  /** Lazy `localCheckpoint` with a plan-audit escape hatch: when the
    * session sets `spark.graft.audit.noCheckpoint=true` the frame passes
    * through UNTOUCHED, so PlanSpec-style shape audits can inspect the
    * full composed chain (a checkpoint truncates everything upstream of
    * it out of the executed plan — the blind spot that otherwise hides
    * an upstream regression behind the `LogicalRDD` leaf). Values are
    * identical either way: the checkpoint only pins and truncates shared
    * subtrees; audit mode merely re-executes them. Use this (not a bare
    * `localCheckpoint(false)`) wherever a checkpoint exists ONLY to stop
    * multi-consumer re-execution of an expensive composed chain.
    */
  def cp(df: DataFrame): DataFrame =
    if (df.sparkSession.conf
        .get("spark.graft.audit.noCheckpoint", "false").toBoolean) df
    else df.localCheckpoint(eager = false)

  /** Free the block-manager blocks behind a `localCheckpoint`'d frame: the
    * checkpoint is a persisted RDD wrapped in a `LogicalRDD` leaf, and
    * neither `Dataset.unpersist` nor `spark.catalog.clearCache()`
    * touches it — both only clear the `CacheManager`. Releases the FIRST
    * `LogicalRDD` the frame's plan reaches, so a frame built over any
    * checkpoint (a projection, a join with a checkpointed input) frees
    * that checkpoint, whoever took it; only a plan with no `LogicalRDD`
    * leaf is left alone. Non-blocking.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Eager `localCheckpoint` of `df`, and the number of its rows where
    * `cond` holds, counted by the checkpoint's own job through a fresh
    * [[org.apache.spark.sql.Observation]]: a convergence loop reads its
    * round's change count without a second job over the round.
    */
  def checkpointCounting(df: DataFrame, cond: Column): (DataFrame, Long) = {
    val n = Observation()
    val cp = df.observe(n, count_if(cond).as("n")).localCheckpoint()
    (cp, n.get("n").asInstanceOf[Long])
  }

  /** The fixed-round loop behind every iterative operator: `n` rounds of
    * `cur = step(cur, r)` for r = 1..n, each result eagerly
    * `localCheckpoint`'d so round r's plan never replays rounds 1..r−1.
    * Once round r is materialized, the checkpoint round r−1 took is
    * released ([[unpersistCheckpoint]]), so at most two round frames
    * are held whatever `n` is. `init` is never released: it is the
    * caller's, and may be a lazy frame over a checkpoint the caller still
    * reads. Returns the last round's checkpoint (`init` when `n` = 0)
    * and records `n` rounds under `op` in [[IterStats]].
    */
  def iterate(op: String, n: Int, init: DataFrame)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val out = (1 to n).foldLeft(init) { (cur, r) =>
      val next = step(cur, r).localCheckpoint()
      if (r > 1) unpersistCheckpoint(cur)
      next
    }
    IterStats.record(op, n)
    out
  }

  /** Fail fast with a descriptive error when a graft-native SQL kernel is
    * missing from the session (i.e. it was built without
    * [[graft.GraftExtensions]]) — otherwise callers hit an opaque
    * unresolved-function analysis error deep inside a composed plan.
    */
  def requireKernel(spark: org.apache.spark.sql.SparkSession,
                    fn: String): Unit =
    require(spark.catalog.functionExists(fn),
      s"native kernel '$fn' is not registered on this SparkSession — " +
        "build sessions with Graft.session (which installs " +
        "graft.GraftExtensions) or set " +
        "spark.sql.extensions=graft.GraftExtensions")
}
