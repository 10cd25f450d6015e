package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.TungstenProbe
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions.{broadcast, col, concat, lit}
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

/** A local graft session sizes Tungsten pages to the JVM heap
  * (GraftSession.builder): the smallest power of two ≥ 1 MB whose
  * 8192-entry task page table spans `maxMemory`, so a small hash map
  * holds one small page instead of Spark's core-count-derived 32 MB.
  * Under G1 the long[] header comes off the page, as in Spark's default.
  */
class PageSizeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSession._

  private val heap = Runtime.getRuntime.maxMemory
  // under G1 a page is its long[]'s power of two less the array header
  private val header =
    if (ManagementFactory.getGarbageCollectorMXBeans.asScala.exists(_.getName.startsWith("G1")))
      Platform.LONG_ARRAY_OFFSET.toLong
    else 0L
  private val rulePage = Iterator.iterate(1L << 20)(_ * 2).map(_ - header).find(_ * 8192 >= heap).get

  test("the page is the smallest power of two >= 1 MB (less the G1 header) whose 8192 pages span the heap") {
    spark
    assert(TungstenProbe.pageSizeBytes === rulePage)
    assert(8192 * TungstenProbe.pageSizeBytes >= heap)
  }

  test("a 100-row broadcast hash relation holds at most 2 pages of driver heap") {
    // a string + long key: no packing into one long, so Spark builds
    // an UnsafeHashedRelation (a BytesToBytesMap)
    def side(n: Int) = spark.range(n).select(concat(lit("k"), col("id") % 100) as "a", col("id") % 100 as "b")
    val df = side(1000).join(broadcast(side(100)), Seq("a", "b"))
    assert(df.collect().length === 1000)
    val plan = df.queryExecution.executedPlan
    val relations = collect(plan) { case e: BroadcastExchangeLike => e.relationFuture.get() }
    assert(relations.size === 1)
    val b = relations.head
    assert(b.value.getClass.getSimpleName === "UnsafeHashedRelation")
    val held = TungstenProbe.broadcastValueBytes(b.id)
    assert(held > 0 && held <= 2 * rulePage, s"relation holds $held bytes, page $rulePage")
    // the plan owns the broadcast: reachable until here, the cleaner
    // cannot drop the block while it is read
    java.lang.ref.Reference.reachabilityFence(plan)
  }
}
