package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
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

    // the documents plus planted near-duplicates (a one-word edit) and
    // exact copies, so the pair set and the representative collapse
    // are both exercised
    def simhashCorpus: DataFrame = {
      val docs = Catalog.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      docs
        .unionAll(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"), concat(col("text"), lit(" zz")).as("text")))
        .unionAll(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    }

    test(s"simhashPairs equals brute-force hamming <= 3 over all representative pairs ($sf)") {
      val corpus = simhashCorpus
      val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3,
        maxBucket = corpus.count().toInt)
      val fp = refFingerprints(corpus)
      val ref = fp.select(col("id").as("id_a"), col("blocks").as("blocks_a"))
        .crossJoin(fp.select(col("id").as("id_b"), col("blocks").as("blocks_b")))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), refHamming.as("hamming"))
        .filter(col("hamming") <= 3)
      assert(assertSameMultiset(got, ref) >= 20)
    }

    test(s"simhashPairs with a bucket cap equals the capped block self-join ($sf)") {
      val maxBucket = 2
      val corpus = simhashCorpus
      val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3, maxBucket = maxBucket)
      // the cap as a join: count each (block_idx, block_val) bucket,
      // join the survivors back, self-join the bucket on id_a < id_b
      val exploded = refFingerprints(corpus)
        .select(col("id"), col("blocks"), posexplode(col("blocks")).as(Seq("block_idx", "block_val")))
      val sizes = exploded.groupBy(col("block_idx"), col("block_val")).agg(count(lit(1)).as("n"))
      assert(sizes.filter(col("n") > maxBucket).count() > 0, "the cap drops no bucket")
      val capped = exploded.join(sizes.filter(col("n") <= maxBucket), Seq("block_idx", "block_val"))
      val ref = capped.select(col("id").as("id_a"), col("blocks").as("blocks_a"),
          col("block_idx"), col("block_val"))
        .join(capped.select(col("id").as("id_b"), col("blocks").as("blocks_b"),
          col("block_idx"), col("block_val")), Seq("block_idx", "block_val"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), refHamming.as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
      assert(assertSameMultiset(got, ref) > 0)
    }
  }

  /** (min id, SimHash blocks) per distinct text, in plain Spark: the
    * lower-cased whitespace tokens hashed with xxhash64, each of the 64
    * bits set where more than half the tokens set it, folded MSB-first
    * into four 16-bit blocks.
    */
  private def refFingerprints(corpus: DataFrame): DataFrame = {
    val hs = transform(filter(split(lower(col("text")), "\\s+"), t => length(t) > 0),
      t => xxhash64(t))
    def bit(k: Int): Column =
      size(filter(col("hs"), h => shiftrightunsigned(h, k).bitwiseAND(1L) === 1L)) * 2 > size(col("hs"))
    val blocks = array((0 until 4).map(b =>
      (0 until 16).map(i => when(bit(b * 16 + i), lit(1L << (15 - i))).otherwise(lit(0L)))
        .reduce(_ + _)): _*)
    corpus.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
      .filter(col("id").isNotNull)
      .select(col("id"), hs.as("hs"))
      .select(col("id"), blocks.as("blocks"))
  }

  private val refHamming: Column = (0 until 4)
    .map(b => bit_count(col("blocks_a")(b).bitwiseXOR(col("blocks_b")(b))).cast("long"))
    .reduce(_ + _)
}
