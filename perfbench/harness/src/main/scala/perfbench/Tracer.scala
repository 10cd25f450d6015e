package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * harness's own spans and Spark's job/stage timestamps share one axis.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

final class Span(val id: Int, val kind: String, val name: String, val parent: Int, val start: Double) {
  var end: Double = Double.NaN
  def ms: Double = end - start
}

/** One completed stage with its aggregated task metrics. */
final case class StageRec(
    start: Double, end: Double, tasks: Int,
    inputRows: Long, outputBytes: Long, outputRows: Long,
    shWriteBytes: Long, shWriteRecords: Long, shWriteNs: Long,
    shReadBytes: Long, fetchWaitMs: Long, spillBytes: Long,
    runMs: Long, cpuNs: Long, gcMs: Long)

/** One executed query: its Catalyst phase times, final-plan operator
  * counts and the bytes of the files its scans selected.
  */
final case class QeRec(phases: Map[String, Double], plan: Map[String, Int], scanBytes: Long)

/** Collects spans and layer metrics from outside the engine: Spark's
  * public listener interfaces plus the harness's own span boundaries.
  * Jobs are attributed to harness spans through the job group, which
  * the harness sets to the span id before every build and execute.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stagesByGroup = mutable.Map.empty[String, mutable.ArrayBuffer[StageRec]]
  private val jobsByGroup = mutable.Map.empty[String, Int]
  private var pendingQes = mutable.ArrayBuffer.empty[QeRec]

  /** A new harness span; kept in the report only when `record` is set. */
  def open(kind: String, name: String, parent: Span, record: Boolean = true): Span = synchronized {
    val s = new Span(if (record) spans.size + 1 else -1, kind, name,
      if (parent == null) 0 else parent.id, Clock.nowMs)
    if (record) spans += s
    s
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def stagesOf(group: String): Seq[StageRec] = synchronized(stagesByGroup.get(group).map(_.toList).getOrElse(Nil))
  def jobsOf(group: String): Int = synchronized(jobsByGroup.getOrElse(group, 0))

  /** Query executions reported since the last call (drain the bus first). */
  def takeQes(): Seq[QeRec] = synchronized { val q = pendingQes.toList; pendingQes = mutable.ArrayBuffer.empty; q }

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    val parent = g.stripPrefix("pb").toIntOption.getOrElse(0)
    val s = new Span(spans.size + 1, "job", s"job ${e.jobId}", parent, e.time.toDouble)
    spans += s
    jobSpan(e.jobId) = s
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageJob(id) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (start <- i.submissionTime; end <- i.completionTime) {
      val parent = stageJob.get(i.stageId).flatMap(jobSpan.get).map(_.id).getOrElse(0)
      val s = new Span(spans.size + 1, "stage", s"stage ${i.stageId}.${i.attemptNumber()}", parent, start.toDouble)
      s.end = end.toDouble
      spans += s
      val m = i.taskMetrics
      val g = stageGroup.getOrElse(i.stageId, "")
      stagesByGroup.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += StageRec(
        start.toDouble, end.toDouble, i.numTasks,
        m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val ops = Tracer.operators(qe.executedPlan)
    val scanBytes = ops.collect { case f: FileSourceScanExec => f.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum
    val rec = QeRec(phases, Tracer.planCounts(ops), scanBytes)
    synchronized(pendingQes += rec)
  }
}

object Tracer {
  /** Every operator of a physical plan, looking through adaptive
    * wrappers (final plan) and query stages, including subqueries.
    */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec        => operators(q.plan)
    case o                        => o +: (o.children ++ o.subqueries).flatMap(operators)
  }

  def planCounts(ops: Seq[SparkPlan]): Map[String, Int] = {
    def n(f: PartialFunction[SparkPlan, Boolean]): Int = ops.count(f.applyOrElse(_, (_: SparkPlan) => false))
    Map(
      "exchanges" -> n { case _: ShuffleExchangeLike => true },
      "reused_exchanges" -> n { case _: ReusedExchangeExec => true },
      "broadcasts" -> n { case _: BroadcastExchangeLike => true },
      "joins_shj" -> n { case _: ShuffledHashJoinExec => true },
      "joins_smj" -> n { case _: SortMergeJoinExec => true },
      "joins_bhj" -> n { case _: BroadcastHashJoinExec => true })
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) total += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) total += curB - curA
    total
  }
}
