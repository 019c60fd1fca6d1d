package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import graft.{Graft, SparkEntry}

/** Minimal JSON object builder for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def put(k: String, v: String): Json = { fields += q(k) + ":" + v; this }
  def num(k: String, v: Double): Json =
    put(k, if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString)
  def num(k: String, v: Long): Json = put(k, v.toString)
  def str(k: String, v: String): Json = put(k, q(v))
  def bool(k: String, v: Boolean): Json = put(k, v.toString)
  def strs(k: String, v: Seq[String]): Json = put(k, v.map(q).mkString("[", ",", "]"))
  def obj(k: String, v: Json): Json = put(k, v.toString)
  def arr(k: String, v: Seq[Json]): Json = put(k, v.mkString("[", ",", "]"))
  override def toString: String = fields.mkString("{", ",", "}")
}

/** The benchmark's JVM side: sets the program up, runs the cold pass and the
  * timed closed loop (one client), and writes samples, captured outputs and
  * (when traced) per-layer totals to `--out`. Output checks run afterwards
  * in `run.py`.
  */
object Main {
  /** Dashboard pool: gate -> draws per block; the log-tail and top-k panels
    * refresh twice as often. A block (about 6 s on 4 cores) is sized so an
    * 8-second window always holds two.
    */
  val Dashboard: Seq[(String, Int)] = Seq(
    "q_funnel" -> 1, "q_multi_join_agg" -> 1, "q_error_rate" -> 1, "q_log_tail" -> 2,
    "q_topk" -> 2, "q_null_counts" -> 1, "q_histogram" -> 1, "q_rolling" -> 1,
    "q_corr_matrix" -> 1, "q_retention" -> 1, "q_upsert" -> 1, "q_anti_join_new" -> 1)
  val DashboardTables = Seq("customer", "orders", "lineitem", "nation", "region", "events")
  /** The DAG one batch pass runs (every gate once per pass). */
  val Batch: Seq[(String, Int)] = Seq(
    "q_semdedup" -> 1, "q_pipeline_mix" -> 1)
  val BatchTables = Seq("documents", "embeddings")
  /** Passes the timed window runs at the least: the second and third pass
    * still run faster than the first, so a rate over fewer passes follows
    * how far the JIT happened to get.
    */
  val BatchPasses = 3

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val cores = opt.getOrElse("cores", "4").toInt
    val faults = opt.get("faults").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      .map(_.split("=")).map(a => a(0) -> a(1)).toMap
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val s0 = System.nanoTime()
    val spark = Graft.session(Some(s"local[$cores]"), "e2e-bench", cores, Map(
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.sql.extensions" -> "e2ebench.ReadObserver"))
    val sessionMs = (System.nanoTime() - s0) / 1e6
    val wl: Workload = workload match {
      case "dashboard_mix" =>
        new GateWorkload(spark, opt("data"), seed, Dashboard, DashboardTables, faults)
      case "batch_dags" =>
        new GateWorkload(spark, opt("data"), seed, Batch, BatchTables, faults, BatchPasses)
      case "etl_ingest" => new EtlWorkload(spark, work.resolve("etl"), seed)
      case other => sys.error(s"unknown workload $other")
    }
    // every op starts from the session conf Graft.session left
    val baseConf = spark.conf.getAll
    def restoreConf(): Seq[String] = {
      val now = spark.conf.getAll
      now.keySet.diff(baseConf.keySet).foreach(spark.conf.unset)
      baseConf.foreach { case (k, v) => if (now.get(k) != Some(v)) spark.conf.set(k, v) }
      (baseConf.keySet ++ now.keySet).filter(k => baseConf.get(k) != now.get(k)).toSeq.sorted
    }
    wl.setup()
    restoreConf()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (opt.get("setup-only").contains("1")) {
      // nothing of this JVM outlives it: skip the orderly shutdown
      Files.write(Paths.get(opt("out")), new Json().num("setup_s", setupS).toString.getBytes("UTF-8"))
      Runtime.getRuntime.halt(0)
    }

    val runs = mutable.ArrayBuffer.empty[(String, Int, OpRun)]
    val tracedRuns = mutable.ArrayBuffer.empty[(OpRun, Tracing)]
    var nextId = 0
    val tracing = if (traced) Some(new Tracing(spark)) else None
    def runOne(name: String, phase: String, block: Int, capture: Boolean): OpRun = {
      val op = new OpRun(nextId, name)
      nextId += 1
      val t = tracing.filter(_ => phase != "untraced")
      t.foreach { t => t.jobs.currentOp = op.id; t.attach() }
      val sc = spark.sparkContext
      val dirs0 = artifactDirs(tmp)
      ArtifactReads.drain()
      sc.addJobTag(s"e2e.op.${op.id}")
      try wl.run(op, capture) finally sc.removeJobTag(s"e2e.op.${op.id}")
      // bookkeeping outside the timed op
      op.rounds = graft.ops.IterStats.drain().values.sum
      val persisted = sc.getPersistentRDDs.values.toSeq
      op.leakedPersisted = persisted.size
      persisted.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      op.confWrites = restoreConf()
      val built = artifactDirs(tmp).diff(dirs0)
      op.artifactsBuilt = built.size
      op.artifactsServed = ArtifactReads.drain().diff(built).size
      t.foreach { t =>
        t.detach()
        tracedRuns += op -> t
      }
      runs += ((phase, block, op))
      op
    }

    // cold pass: each distinct op once, with a collecting sink whose rows
    // feed the output check
    val coldStart = System.nanoTime()
    val coldOps = wl.coldPass.map(n => runOne(n, "cold", -1, capture = true))
    val firstPassS = (System.nanoTime() - coldStart) / 1e9

    // timed closed loop, one client: whole blocks until `seconds` elapsed.
    // A traced run instead runs four blocks, two of them traced, so its
    // counts repeat exactly.
    def runBlock(phase: String, b: Int): Double = {
      val start = System.nanoTime()
      wl.block(b).foreach(n => runOne(n, phase, b, capture = false))
      (System.nanoTime() - start) / 1e9
    }
    val windows = new Json
    if (!traced) {
      var (el, nb) = (0.0, 0)
      while (el < seconds || nb < wl.minBlocks) { el += runBlock("window", nb); nb += 1 }
      windows.num("window_s", el).num("window_blocks", nb)
    } else {
      // untraced, traced, traced, untraced: neither side runs warmer
      val order = Seq("untraced", "traced", "traced", "untraced")
      val el = order.zipWithIndex.map { case (phase, b) => phase -> runBlock(phase, b) }
      windows.num("untraced_s", el.filter(_._1 == "untraced").map(_._2).sum)
        .num("traced_s", el.filter(_._1 == "traced").map(_._2).sum)
    }

    // captured cold-pass outputs, written for the DuckDB comparison
    val outDir = work.resolve("out")
    val checks = mutable.ArrayBuffer.empty[Json]
    val oracle = SparkEntry.oracleSql
    coldOps.foreach { op =>
      op.captured.foreach { case (rows, schema) =>
        val p = outDir.resolve(op.name).toString
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(p)
        checks += new Json().str("op", op.name).str("path", p)
          .str("oracle", oracle.getOrElse(op.name, ""))
      }
    }

    val out = new Json()
      .str("workload", workload).num("seed", seed)
      .num("setup_s", setupS).num("session_ms", sessionMs)
      .num("first_pass_s", firstPassS).obj("loop", windows)
      .arr("samples", runs.toSeq.map { case (phase, block, op) =>
        val j = new Json().str("op", op.name).num("id", op.id).str("phase", phase).num("block", block)
          .num("latency_s", op.latencyS).bool("ok", op.ok).str("error", op.error)
          .strs("conf_writes", op.confWrites)
        // a traced op's finished jobs, for tracing a count back to its op
        tracedRuns.find(_._1 eq op).foreach { case (_, t) =>
          val (build, exec) = t.jobs.jobsTagged(s"e2e.op.${op.id}").filter(_.succeeded)
            .partition(_.tags.contains("e2e.build"))
          j.num("build_jobs", build.size).num("exec_jobs", exec.size)
            .strs("exec_sites", exec.map(_.site))
        }
        j
      })
      .arr("checks", checks.toSeq)
    wl.report(out)
    if (traced) out.obj("layers", Layers.totals(tracedRuns.toSeq, cores))
    spark.stop()
    out.num("peak_rss_mb", vmHwmKb() / 1024.0).num("heap_peak_mb", heapPeakMb())
    Files.write(Paths.get(opt("out")), out.toString.getBytes("UTF-8"))
  }

  def artifactDirs(tmp: Path): Set[String] =
    EtlWorkload.listDir(tmp).map(_.getFileName.toString).filter(_.startsWith("graft_")).toSet

  /** Sum over the heap's memory pools of each pool's peak use since JVM start. */
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }
}

/** Per-layer totals over the traced scope (the cold pass plus the traced
  * blocks): every op's spans, its tagged jobs and its Catalyst phases.
  *
  * `exec_ms` is the time inside the calls that execute plans (the gate's
  * sink, or the `Etl` calls of a round) less the Catalyst optimization and
  * planning done inside them; `exec.job_ms` is the part of it when a Spark
  * job was running.
  */
object Layers {
  /** Actions behind `jobs`: one per root SQL execution, one per job run
    * outside any. Unlike the job count, this does not depend on how many
    * stage jobs adaptive execution happened to submit.
    */
  def actions(jobs: Seq[JobRec]): Int =
    jobs.map(j => j.execution.map(e => s"x$e").getOrElse(s"j${j.id}")).distinct.size

  def totals(ops: Seq[(OpRun, Tracing)], cores: Int): Json = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wallMs = 0L
    var coveredMs = 0L
    ops.foreach { case (op, t) =>
      val jobs = t.jobs.jobsTagged(s"e2e.op.${op.id}")
      val qes = (t.plans.byOp.getOrElse(op.id, Nil) ++ op.finalQe)
        .foldLeft(List.empty[QueryExecution]) { (acc, q) => if (acc.exists(_ eq q)) acc else q :: acc }
      def phaseMs(in: Seq[QueryExecution], p: String): Long =
        in.flatMap(_.tracker.phases.get(p)).map(_.durationMs).sum
      Seq("analysis", "optimization", "planning").foreach(p => c(s"plan.${p}_ms") += phaseMs(qes, p))
      // a gate's sink runs only its final plan; an etl round's calls run all
      val execCalls = op.sink.toSeq ++ op.calls.filter(_._1 != "inject").map(_._2)
      val planned = if (op.sink.isDefined) op.finalQe.toSeq else qes
      // adaptive execution cancels stages it no longer needs, and whether
      // their jobs had started depends on timing: only finished jobs count
      val (done, cancelled) = jobs.partition(_.succeeded)
      c("jobs_not_succeeded") += cancelled.size
      val (buildJobs, execJobs) = done.partition(_.tags.contains("e2e.build"))
      c("build_ms") += op.build.map(s => s.end - s.start).getOrElse(0L)
      c("build_jobs") += buildJobs.size
      c("build_actions") += actions(buildJobs)
      c("exec_ms") += execCalls.map(s => s.end - s.start).sum -
        phaseMs(planned, "optimization") - phaseMs(planned, "planning")
      c("exec.job_ms") += Span.covered(execJobs.map(j => Span(j.start, j.end)), op.wall)
      c("exec.jobs") += execJobs.size
      c("exec.stages") += execJobs.map(_.stages).sum
      c("exec.tasks") += execJobs.map(_.tasks).sum
      c("exec.task_run_ms") += execJobs.map(_.runMs).sum
      c("exec.shuffle_read_bytes") += execJobs.map(_.shuffleRead).sum
      c("exec.shuffle_write_bytes") += execJobs.map(_.shuffleWrite).sum
      c("exec.spill_bytes") += execJobs.map(_.spill).sum
      c("exec.gc_ms") += execJobs.map(_.gcMs).sum
      done.foreach { j =>
        c(s"${j.module}.jobs") += 1
        c(s"${j.module}.job_ms") += j.end - j.start
      }
      c("Tables.conf_writes") += op.confWrites.size
      c("ops.IterStats.rounds") += op.rounds
      val (rdds, bytes) = t.jobs.blocks.getOrElse(op.id, (mutable.Set.empty[Int], 0L))
      c("ops.Par.checkpoints") += rdds.size
      c("ops.Par.checkpoint_bytes") += bytes
      c("ops.Par.leaked_persisted") += op.leakedPersisted
      c("SparkEntry.artifacts_built") += op.artifactsBuilt
      c("SparkEntry.artifacts_served") += op.artifactsServed
      op.calls.foreach { case (layer, s) => c(s"Etl.${layer}_ms") += s.end - s.start }
      if (op.calls.nonEmpty) c("Etl.bytes_read") += jobs.map(_.inputBytes).sum
      wallMs += op.wall.end - op.wall.start
      coveredMs += Span.covered(op.build.toSeq ++ execCalls ++ op.calls.map(_._2), op.wall)
      c("trace.ops") += 1
    }
    c("Tables.read_jobs") = c("Tables.jobs")
    c("Tables.read_ms") = c("Tables.job_ms")
    c("exec.task_busy_frac") =
      if (c("exec_ms") > 0) c("exec.task_run_ms") / (c("exec_ms") * cores) else 0.0
    c("trace.wall_ms") = wallMs.toDouble
    c("trace.unattributed_frac") = if (wallMs > 0) 1.0 - coveredMs.toDouble / wallMs else 0.0
    val j = new Json
    c.toSeq.sortBy(_._1).foreach { case (k, v) => j.num(k, v) }
    // where the jobs without a graft frame come from, most frequent first
    val sites = ops.flatMap { case (op, t) => t.jobs.jobsTagged(s"e2e.op.${op.id}") }
      .filter(_.module == "unattributed").groupBy(_.site).toSeq.sortBy(-_._2.size).take(10)
    j.arr("unattributed_sites", sites.map { case (s, js) => new Json().str("site", s).num("jobs", js.size) })
  }
}
