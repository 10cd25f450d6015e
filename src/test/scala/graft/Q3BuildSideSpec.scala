package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin, ShuffledHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tpch
import graft.sources.{Bucketize, Catalog}

/** tpch_q3 picks the build side of its lineitem join from Catalyst's
  * size estimate of the orders slice: a broadcast within
  * `spark.sql.autoBroadcastJoinThreshold`, a shuffle-hash build past
  * it. Either way the build is the customer⋈orders side, and both
  * plans return the same multiset (EXCEPT ALL both ways) at two scale
  * factors, on flat and on orderkey-bucketed tables.
  */
class Q3BuildSideSpec extends AnyFunSuite {
  import TestSession.spark

  private val scales = Seq(TestSession.sfDir, TestSession.sfDir.stripSuffix("sf0.001") + "sf0.01")
  private val sf0_01 = scales(1)
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Runs `body` with the broadcast threshold at `bytes`, then puts the
    * session's value back. */
  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.getOption(threshold)
    spark.conf.set(threshold, bytes.toString)
    try body
    finally old.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Executes `df` and returns its final plan's join on l_orderkey and
    * every hash join in that plan. */
  private def lineitemJoin(df: DataFrame): (HashJoin, Seq[HashJoin]) = {
    df.collect()
    val joins = nodes(df.queryExecution.executedPlan).collect { case j: HashJoin => j }
    val li = joins.filter(j => (j.leftKeys ++ j.rightKeys)
      .exists(_.references.exists(_.name == "l_orderkey")))
    assert(li.size === 1, joins.mkString("\n"))
    (li.head, joins)
  }

  private def buildsOrders(j: HashJoin): Boolean =
    (if (j.buildSide == BuildLeft) j.left else j.right).output.exists(_.name == "o_orderkey")

  private def assertSameMultiset(got: DataFrame, ref: DataFrame): Unit = {
    val n = ref.count()
    assert(n > 0 && got.count() === n, "row count")
    assert(got.exceptAll(ref).count() === 0L, "rows only in the broadcast plan")
    assert(ref.exceptAll(got).count() === 0L, "rows only in the shuffle-hash plan")
  }

  test("tpch_q3 at sf0.01 broadcasts the orders-side build and plans no ShuffledHashJoin") {
    val (j, joins) = lineitemJoin(SparkEntry.queries("tpch_q3")(spark, sf0_01))
    assert(j.isInstanceOf[BroadcastHashJoinExec] && buildsOrders(j), j)
    assert(!joins.exists(_.isInstanceOf[ShuffledHashJoinExec]), joins.mkString("\n"))
  }

  test("tpch_q3 past the threshold hash-builds the orders side of a ShuffledHashJoin") {
    withThreshold(1000L) {
      val (j, _) = lineitemJoin(SparkEntry.queries("tpch_q3")(spark, sf0_01))
      assert(j.isInstanceOf[ShuffledHashJoinExec] && buildsOrders(j), j)
    }
  }

  test("tpch_q3_bucketed keeps its shuffle-hash build of the orders side") {
    val (j, _) = lineitemJoin(SparkEntry.queries("tpch_q3_bucketed")(spark, sf0_01))
    assert(j.isInstanceOf[ShuffledHashJoinExec] && buildsOrders(j), j)
  }

  for (dir <- scales) {
    val sf = dir.split('/').last
    val storages = Seq[(String, String => DataFrame)](
      "tpch_q3" -> (n => Catalog.table(spark, dir, n)),
      "tpch_q3_bucketed" -> (n => Bucketize.table(spark, dir, n)))
    for ((label, tab) <- storages) {
      test(s"$label: broadcast and shuffle-hash builds return the same multiset ($sf)") {
        val bc = Tpch.q3Plan(tab)
        assert(lineitemJoin(bc)._1.isInstanceOf[BroadcastHashJoinExec])
        withThreshold(-1L) {
          val shj = Tpch.q3Plan(tab)
          assert(lineitemJoin(shj)._1.isInstanceOf[ShuffledHashJoinExec])
          assertSameMultiset(bc, shj)
        }
      }
    }
  }
}
