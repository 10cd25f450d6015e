package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.OptProf

/** OptProf's collector attributes a run's jobs, stages and tasks to it
  * by job group: the per-stage rows reconcile with the run's task-end
  * totals, and the reported plan counts are those of the entry's own
  * final plan.
  */
class OptProfSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSession._

  private def ownCounts(plan: SparkPlan): Map[String, Int] =
    collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike   => "Exchange"
      case _: ReusedExchangeExec    => "ReusedExchange"
      case _: SortMergeJoinExec     => "SortMergeJoin"
      case _: ShuffledHashJoinExec  => "ShuffledHashJoin"
      case _: BroadcastHashJoinExec => "BroadcastHashJoin"
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  for (name <- Seq("tpch_q6", "q07_groupjoin")) {
    test(s"$name: stage rows reconcile with the run's task totals") {
      OptProf.measure(spark, sfDir, name, 0) // warm-up
      val r = OptProf.measure(spark, sfDir, name, 1)
      assert(r.jobs >= 1)
      assert(r.stages.nonEmpty)
      assert(r.tasks >= r.stages.size)
      assert(r.stages.map(_.tasks).sum === r.tasks)
      assert(r.stages.map(_.runMs).sum === r.runMs)
      assert(r.stages.map(_.cpuNs).sum === r.cpuNs)
      assert(r.toJson.startsWith(s"""{"entry":"$name","run":1,"""))
      assert(r.toJson.contains(s""""peak_exec_mem_bytes":${r.peakExecMemBytes},"""))
      if (name == "q07_groupjoin") assert(r.peakExecMemBytes > 0, "a grouped aggregate holds a hash map")
    }

    test(s"$name: plan counts equal the entry's own executedPlan") {
      val r = OptProf.measure(spark, sfDir, name, 1)
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val own = ownCounts(df.queryExecution.executedPlan)
      assert(r.planCounts.toMap === r.planCounts.map { case (k, _) => k -> own.getOrElse(k, 0) }.toMap)
    }
  }
}
