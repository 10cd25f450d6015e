package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Joins

/** ASOF and positional join semantics against small brute-force
  * oracles (ties, equal timestamps, unmatched rows), plus the
  * scale-shape guarantees (no pair blowup, no single-partition
  * window).
  */
class JoinsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin matches a brute-force backward ASOF, incl. ties and no-match") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 10L, ts("2024-01-01 09:00:00")), // before every right row
      (4L, 20L, ts("2024-01-02 00:00:00")),
      (5L, 30L, ts("2024-01-02 00:00:00"))  // key with no right rows
    ).toDF("eid", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), "a"), // equal ts → must match eid=1
      (10L, ts("2024-01-01 11:30:00"), "b"),
      (20L, ts("2024-01-01 23:59:59"), "c")
    ).toDF("k2", "rt", "payload")

    val got = Joins.asofJoin(left, right,
        col("k"), col("k2"), col("t"), col("rt"), payload = Seq("payload"))
      .select("eid", "payload").as[(Long, Option[String])]
      .collect().toMap

    assert(got(1L).contains("a"), "equal timestamp must match (<= semantics)")
    assert(got(2L).contains("b"))
    assert(got(3L).isEmpty, "left row before all right rows keeps NULL payload")
    assert(got(4L).contains("c"))
    assert(got(5L).isEmpty, "unmatched key keeps NULL payload (LEFT ASOF)")
  }

  test("asofJoin attaches the matched row wholesale — null payload fields stay null") {
    // the matched (latest at-or-before) right row for eid=2 has a NULL
    // payload value; a per-column last(ignoreNulls) carry would leak
    // the OLDER row's 'a'/'x' into it. All columns must come from the
    // single matched row, nulls included.
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:30:00")), // matches first right row
      (2L, 10L, ts("2024-01-01 12:00:00"))  // matches second (null p1)
    ).toDF("eid", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), Option("a"), Option("x")),
      (10L, ts("2024-01-01 11:00:00"), None, Option("y"))
    ).toDF("k2", "rt", "p1", "p2")

    val got = Joins.asofJoin(left, right,
        col("k"), col("k2"), col("t"), col("rt"), payload = Seq("p1", "p2"))
      .select("eid", "p1", "p2").as[(Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

    assert(got(1L) == ((Some("a"), Some("x"))))
    assert(got(2L) == ((None, Some("y"))),
      "matched row's NULL p1 must be preserved, not backfilled from an older row")
  }

  test("asofJoin stays flat on a skewed hot key (no per-key pair space)") {
    // one hot key: 5k left × 2k right would be 10M pairs in the old
    // join+max plan; the union+window plan sorts 7k rows. If the pair
    // space came back this test would blow past the timeout.
    val left = spark.range(5000).select(
      col("id").as("eid"), lit(1L).as("k"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("t"))
    val right = spark.range(2000).select(
      col("id").as("k2p"), lit(1L).as("k2"),
      timestamp_seconds(lit(1700000000L) + col("id") * 2).as("rt"))
    val out = Joins.asofJoin(left, right,
      col("k"), col("k2"), col("t"), col("rt"), payload = Seq("k2p"))
    assert(out.count() == 5000)
    // spot-check: eid=100 at t0+100 → latest right at t0+100 is k2p=50
    val v = out.filter(col("eid") === 100).select("k2p").as[Long].head()
    assert(v == 50L, s"expected 50, got $v")
  }

  test("thetaJoin guards against an unbroadcastable right side") {
    val left = Seq((1L, 5L), (2L, 50L)).toDF("id", "v")
    val right = Seq((1L, 10L), (2L, 20L)).toDF("rid", "lo")
    // a dim-sized right side passes under the default cap
    assert(Joins.thetaJoin(left, right, col("v") < col("lo")).count() == 2)
    // a right side whose size estimate exceeds the cap must refuse
    // LOUDLY (an unconditional broadcast of a fact side is an executor
    // OOM at scale, not a plan choice) and name the rangeJoin/IEJoin
    // alternative
    spark.conf.set("spark.graft.thetaJoin.maxBroadcastBytes", "1024")
    try {
      val big = spark.range(1000000).toDF("rid")
      val ex = intercept[IllegalArgumentException] {
        Joins.thetaJoin(left, big, col("v") < col("rid"))
      }
      assert(ex.getMessage.contains("rangeJoin"), ex.getMessage)
      assert(ex.getMessage.contains("maxBroadcastBytes"), ex.getMessage)
    } finally spark.conf.unset("spark.graft.thetaJoin.maxBroadcastBytes")
  }

  test("positionalJoin zips by rank without a single-partition window") {
    val l = spark.range(100).select(col("id").as("a"))
    val r = spark.range(100).select((col("id") * 10).as("b"))
    val j = Joins.positionalJoin(l, col("a").desc, r, col("b"))
    // highest a (99) pairs with lowest b (0)
    val m = j.select("a", "b").as[(Long, Long)].collect().toMap
    assert(m(99L) == 0L && m(0L) == 990L && m.size == 100)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window operator expected:\n$plan")
  }
}
