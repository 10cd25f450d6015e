package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** Building an entry's DataFrame (`QDef.fn`) runs no Spark job: tables
  * bind from parquet footers read on the driver (`Catalog.parquet`),
  * not through Spark's schema-inference job. Guards the headline
  * entries the benchmark times.
  */
class BuildJobFreeSpec extends AnyFunSuite {
  import TestSession._

  private val entries = Seq("tpch_q6", "tpch_q3", "q06_theta_join", "q13_window_rank",
    "d01_dedup_exact", "d03_dedup_simhash", "s01_cosine_topk")

  private val pool: Seq[QDef] =
    Tpch.defs ++ RelationalA.defs ++ Pipeline.defs

  /** Jobs started on this thread's job group while `body` runs. */
  private def jobsDuring(group: String)(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  for (name <- entries) {
    test(s"$name builds without running a job") {
      val d = pool.find(_.name == name).getOrElse(fail(s"no entry $name"))
      val jobs = jobsDuring(s"build-$name")(d.fn(spark, sfDir))
      assert(jobs === 0)
    }
  }
}
