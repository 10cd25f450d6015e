package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, TextOps}
import graft.queries.RelationalB
import graft.sources.Catalog

/** The plan rewrites behind q32_range_join, q31_asof_join and
  * `Dedup.simhashPairs` return the same multiset as a naive reference
  * written here in plain Spark: equal row counts and an empty
  * EXCEPT ALL in both directions, at two scale factors.
  */
class RewriteEquivSpec extends AnyFunSuite {
  import TestSession.spark

  private val scales = Seq(TestSession.sfDir, TestSession.sfDir.stripSuffix("sf0.001") + "sf0.01")

  private def entry(name: String, dir: String): DataFrame =
    RelationalB.defs.find(_.name == name).get.fn(spark, dir)

  private def assertSameMultiset(got: DataFrame, ref: DataFrame): Long = {
    val n = ref.count()
    assert(got.count() === n, "row count")
    assert(got.exceptAll(ref).count() === 0L, "rows only in the rewrite")
    assert(ref.exceptAll(got).count() === 0L, "rows only in the reference")
    n
  }

  for (dir <- scales) {
    val sf = dir.split('/').last

    test(s"q32_range_join equals the inequality self-join ($sf)") {
      Catalog.table(spark, dir, "events").createOrReplaceTempView("req_events")
      val ref = spark.sql(
        """SELECT e1.user_id, COUNT(*) AS n_pairs
          |FROM req_events e1 JOIN req_events e2
          |  ON e2.user_id = e1.user_id
          | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
          |GROUP BY e1.user_id""".stripMargin)
      assert(assertSameMultiset(entry("q32_range_join", dir), ref) > 0)
    }

    test(s"q31_asof_join equals a join to the pre-aggregate keeping the latest order date ($sf)") {
      Catalog.table(spark, dir, "events").createOrReplaceTempView("req_events")
      Catalog.table(spark, dir, "orders").createOrReplaceTempView("req_orders")
      val ref = spark.sql(
        """WITH ou AS (
          |  SELECT o_custkey, o_orderdate,
          |         MAX(o_orderkey) AS last_ok,
          |         MAX_BY(o_totalprice, o_orderkey) AS last_tp
          |  FROM req_orders GROUP BY o_custkey, o_orderdate),
          |m AS (
          |  SELECT e.event_id, ou.o_orderdate, ou.last_ok, ou.last_tp,
          |         ROW_NUMBER() OVER (PARTITION BY e.event_id
          |                            ORDER BY ou.o_orderdate DESC) AS rn
          |  FROM req_events e JOIN ou
          |    ON e.user_id = ou.o_custkey AND e.ts >= ou.o_orderdate)
          |SELECT e.event_id, e.user_id, CAST(m.o_orderdate AS DATE) AS last_od,
          |       m.last_ok, m.last_tp
          |FROM req_events e LEFT JOIN m ON m.event_id = e.event_id AND m.rn = 1""".stripMargin)
      assert(assertSameMultiset(entry("q31_asof_join", dir), ref) > 0)
      assert(ref.filter(col("last_ok").isNotNull).count() > 0, "no event matched an order")
    }

    test(s"simhashPairs equals brute-force hamming <= 3 over all representative pairs ($sf)") {
      // the documents plus planted near-duplicates (a one-word edit) and
      // exact copies, so the pair set and the representative collapse
      // are both exercised
      val docs = Catalog.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .unionAll(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"), concat(col("text"), lit(" zz")).as("text")))
        .unionAll(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val n = corpus.count()
      val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3,
        maxBucket = n.toInt)
      val fp = corpus.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
        .select(col("id"),
          TextOps.simhashBlocks(TextOps.tokenHashes(TextOps.wordTokens(col("text")))).as("blocks"))
      val a = fp.select(col("id").as("id_a"), col("blocks").as("blocks_a"))
      val b = fp.select(col("id").as("id_b"), col("blocks").as("blocks_b"))
      val ref = a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          TextOps.simhashHamming(col("blocks_a"), col("blocks_b")).as("hamming"))
        .filter(col("hamming") <= 3)
      assert(assertSameMultiset(got, ref) >= 20)
    }
  }
}
