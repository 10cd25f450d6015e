package graft.tools

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-entry layer profile of any `SparkEntry.queries` entry at any
  * scale factor:
  *   tools/run_main.sh graft.tools.OptProf <sfDir> <entry>[,<entry>…] [runs]
  *
  * The session is Bench's: `GraftSession.builder` plus
  * `adaptScanParallelism` for `sfDir`. Each entry gets one warm-up and
  * then `runs` (default 3) measured runs of build + noop sink. Every
  * run prints one JSON line: wall seconds; jobs, stages and tasks;
  * summed executor run, CPU and GC time; input, shuffle read/write and
  * spill bytes; the largest peak execution memory of one task (the
  * Tungsten pages of its hash maps and sorters); one row per stage
  * (wall, run, CPU, tasks); and the operator counts of the noop write's
  * final post-AQE plan. After an entry's runs, that final plan of its
  * last run is printed.
  *
  * Events belong to a run through its job group. Totals sum the
  * run's task-end events; stage rows come from its stage completions,
  * so the two reconcile (tasks and run time exactly) on a clean run.
  */
object OptProf {

  final case class StageRow(id: Int, name: String, wallMs: Long, runMs: Long, cpuNs: Long, tasks: Int)

  final case class Run(
      entry: String, run: Int, wallS: Double, jobs: Int, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, peakExecMemBytes: Long,
      stages: Seq[StageRow], planCounts: Seq[(String, Int)], finalPlan: String) {

    def toJson: String = {
      def str(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def ms(ns: Long) = f"${ns / 1e6}%.3f"
      val rows = stages.map(s =>
        s"""{"id":${s.id},"name":${str(s.name)},"wall_ms":${s.wallMs},"run_ms":${s.runMs},""" +
          s""""cpu_ms":${ms(s.cpuNs)},"tasks":${s.tasks}}""")
      val plan = planCounts.map { case (k, v) => s"${str(k)}:$v" }
      s"""{"entry":${str(entry)},"run":$run,"wall_s":${f"$wallS%.4f"},"jobs":$jobs,""" +
        s""""stages":${stages.size},"tasks":$tasks,"run_ms":$runMs,"cpu_ms":${ms(cpuNs)},""" +
        s""""gc_ms":$gcMs,"input_bytes":$inputBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""peak_exec_mem_bytes":$peakExecMemBytes,""" +
        s""""plan":${plan.mkString("{", ",", "}")},"stage_rows":${rows.mkString("[", ",", "]")}}"""
    }
  }

  /** Counts, by node name, of the final-plan operators the profile
    * reports, looking through adaptive wrappers and query stages and
    * into subqueries.
    */
  def planCounts(plan: SparkPlan): Seq[(String, Int)] = {
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case q: QueryStageExec        => ops(q.plan)
      case o                        => o +: (o.children ++ o.subqueries).flatMap(ops)
    }
    val all = ops(plan)
    def n(f: SparkPlan => Boolean) = all.count(f)
    Seq(
      "Exchange" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "ReusedExchange" -> n(_.isInstanceOf[ReusedExchangeExec]),
      "SortMergeJoin" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "ShuffledHashJoin" -> n(_.isInstanceOf[ShuffledHashJoinExec]),
      "BroadcastHashJoin" -> n(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  /** Listens to one run: the jobs, stages and tasks of job group
    * `group`, and the query executions finished while it is attached.
    */
  private final class Collector(group: String) extends SparkListener with QueryExecutionListener {
    var jobs = 0
    val stageIds = mutable.Set.empty[Int]
    val stages = mutable.ArrayBuffer.empty[StageRow]
    var tasks, runMs, cpuNs, gcMs, input, shRead, shWrite, spill, peakExecMem = 0L
    var lastQe: Option[QueryExecution] = None

    private def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (ours(e.properties)) jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (ours(e.properties)) stageIds += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      if (stageIds(i.stageId)) {
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        stages += StageRow(i.stageId, i.name, wall, i.taskMetrics.executorRunTime,
          i.taskMetrics.executorCpuTime, i.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (stageIds(e.stageId) && m != null) {
        tasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        input += m.inputMetrics.bytesRead
        shRead += m.shuffleReadMetrics.totalBytesRead
        shWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { lastQe = Some(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** One build + noop-sink run of `entry`, attributed by job group. */
  def measure(spark: SparkSession, dir: String, entry: String, run: Int): Run = {
    val fn = graft.SparkEntry.queries.getOrElse(entry, sys.error(s"unknown entry $entry"))
    val sc = spark.sparkContext
    val group = s"optprof-$entry-$run"
    val c = new Collector(group)
    ListenerDrain(sc) // earlier runs' query executions must not reach `c`
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val wall =
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally {
        sc.clearJobGroup()
        ListenerDrain(sc)
        sc.removeSparkListener(c)
        spark.listenerManager.unregister(c)
      }
    // the noop write is the run's last query execution
    val plan = c.lastQe.getOrElse(sys.error(s"$entry: no query execution seen")).executedPlan
    c.synchronized {
      Run(entry, run, wall, c.jobs, c.tasks.toInt, c.runMs, c.cpuNs, c.gcMs, c.input,
        c.shRead, c.shWrite, c.spill, c.peakExecMem, c.stages.sortBy(_.id).toList, planCounts(plan),
        plan.treeString)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(',').toSeq).getOrElse(graft.Bench.headline)
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.adaptScanParallelism(s, dir) // match Bench
    names.foreach { name =>
      measure(s, dir, name, 0) // warm-up
      val last = (1 to runs).map { i =>
        val r = measure(s, dir, name, i)
        println(r.toJson)
        r
      }.last
      println(s"== $name final plan (run ${last.run}) ==")
      println(last.finalPlan)
    }
    s.stop()
  }
}
