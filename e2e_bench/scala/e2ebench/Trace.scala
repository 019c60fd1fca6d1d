package e2ebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val start: Long, val tags: Set[String], val module: String,
                   val site: String, val execution: Option[Long]) {
  var end: Long = start
  var succeeded = false
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
}

/** A half-open interval of wall-clock milliseconds. */
final case class Span(start: Long, end: Long)

object Span {
  /** Total length of the union of `spans`, clipped to `within`. */
  def covered(spans: Seq[Span], within: Span): Long = {
    val clipped = spans.map(s => Span(s.start max within.start, s.end min within.end))
      .filter(s => s.end > s.start).sortBy(_.start)
    var total = 0L
    var cur: Option[Span] = None
    clipped.foreach { s =>
      cur match {
        case Some(c) if s.start <= c.end => cur = Some(Span(c.start, c.end max s.end))
        case Some(c) => total += c.end - c.start; cur = Some(s)
        case None => cur = Some(s)
      }
    }
    total + cur.map(c => c.end - c.start).getOrElse(0L)
  }
}

/** Listener the benchmark registers on the program's SparkContext while a
  * traced op runs. Jobs are grouped by the job tags the benchmark sets
  * around each layer call; each job is attributed to the repo module of the
  * first `graft.` frame in its call site, or, for the jobs adaptive
  * execution submits from its own threads, in the call site of the SQL
  * execution that owns them. RDD block writes are charged to the op that is
  * current when they are delivered (the benchmark drains the bus at the end
  * of every traced op).
  */
final class JobTracer extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val executions = mutable.Map.empty[Long, (String, Option[Long])]
  @volatile var currentOp: Int = -1
  /** op id -> (rdd ids that stored blocks, bytes stored) */
  val blocks = mutable.Map.empty[Int, (mutable.Set[Int], Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val own = JobTracer.module(details)
    val module = if (own != JobTracer.Unattributed) own else execution.map(executionModule).getOrElse(own)
    val rec = new JobRec(e.jobId, e.time, tags, module,
      details.split("\n").take(3).map(_.trim).mkString(" <- "), execution.map(rootExecution))
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  private def rootExecution(id: Long): Long = executions.get(id) match {
    case Some((_, Some(root))) if root != id => rootExecution(root)
    case _ => id
  }

  private def executionModule(id: Long): String = executions.get(id) match {
    case Some((m, Some(root))) if m == JobTracer.Unattributed && root != id => executionModule(root)
    case Some((m, _)) => m
    case None => JobTracer.Unattributed
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (JobTracer.module(s.details), s.rootExecutionId)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) {
      val (ids, bytes) = blocks.getOrElse(currentOp, (mutable.Set.empty[Int], 0L))
      info.blockId.asRDDId.foreach(b => ids += b.rddId)
      blocks(currentOp) = (ids, bytes + info.memSize + info.diskSize)
    }
  }

  def jobsTagged(tag: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.tags.contains(tag)).toSeq
  }
}

object JobTracer {
  val Unattributed = "unattributed"
  private val GraftFrame = """(?:^|/)graft\.([\w.$]+?)\.[^.(]+\(""".r

  /** `graft.ops.Graph$.labelPropagation(Graph.scala:400)` -> `ops.Graph`;
    * a call site without a `graft.` frame -> `unattributed`.
    */
  def module(details: String): String =
    details.split("\n").iterator.map(_.trim)
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption()
      .map(c => c.takeWhile(_ != '$'))
      .getOrElse(Unattributed)
}

/** Catalyst phase times of every action a traced op runs, keyed by op. */
final class PlanTracer(tracer: JobTracer) extends QueryExecutionListener {
  val byOp = mutable.Map.empty[Int, mutable.ArrayBuffer[QueryExecution]]

  def add(op: Int, qe: QueryExecution): Unit = synchronized {
    val seen = byOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty)
    if (!seen.exists(_ eq qe)) seen += qe
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(tracer.currentOp, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(tracer.currentOp, qe)
}

/** Session extension the benchmark adds next to the program's own: a check
  * rule that records which `graft_*` artifact directories any analysed plan
  * reads. It never changes a plan.
  */
class ReadObserver extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectCheckRule(_ => (plan: LogicalPlan) => ArtifactReads.observe(plan))
}

object ArtifactReads {
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val Dir = """/(graft_[^/]+)""".r

  def observe(plan: LogicalPlan): Unit = plan.foreach {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.foreach { p =>
        Dir.findFirstMatchIn(p.toString).foreach(m => seen.add(m.group(1)))
      }
      case _ =>
    }
    case _ =>
  }

  /** Artifact directory names read since the last drain. */
  def drain(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val out = seen.asScala.toSet
    seen.clear()
    out
  }
}

/** The listeners of a traced run; attached only while a traced op runs. */
final class Tracing(spark: SparkSession) {
  val jobs = new JobTracer
  val plans = new PlanTracer(jobs)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }
  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }
}
