package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Catalog
import graft.streaming.StreamingOps

/** Streaming-shaped operators ST1–ST3 (SURVEY §2.6), run here in batch
  * mode against the same plans StreamingOps executes incrementally
  * (StreamingSpec proves batch/stream equivalence on st01).
  */
object StreamingQ {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val defs: Seq[QDef] = Seq(

    // ST1: tumbling-window aggregation (same plan as the readStream
    // version; window start == date_trunc hour for 1h tumbling).
    QDef.sql("st01_window_agg",
      """SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY DATE_TRUNC('hour', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      StreamingOps.windowedAgg(t(s, dir, "events"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // ST2: gap-based sessionization (30 min inactivity ends a session).
    QDef.sql("st02_sessionize",
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |   CASE WHEN LAG(ts) OVER w IS NULL
        |         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |GROUP BY user_id""".stripMargin) { (s, dir) =>
      // SessionCountAgg (operators/SessionCount.scala): per-user
      // timestamps collect into primitive buffers with map-side
      // partial aggregation — the exchange carries one buffer row per
      // (user, mapper) instead of one row per event, and there is no
      // partition-wide sort and no window operator at all (each
      // buffer sorts its own few hundred elements at eval). Gap test
      // in epoch-µs longs, matching the oracle's interval compare
      // exactly; tie order is irrelevant to the session count.
      // r13: repartition BY KEY first, so the aggregate plans in
      // COMPLETE mode. For a collect-style buffer the map-side partial
      // pass shrinks nothing (every timestamp crosses the wire either
      // way) — it only adds a 100k-entry buffer map per mapper plus a
      // serialize/merge of every buffer. Same single exchange, rows
      // hash once into ~3k buffers per reducer. Measured at sf10:
      // 2.07 s (window-lag) → 1.6 s (partial+final agg) → 0.87 s
      // (complete-mode agg, commit e16e785). Needs a raised
      // objectHashAggregate fallback threshold or the 3k
      // keys/partition re-introduce a sort-based fallback — raised on
      // a FORKED session (isolated SQL conf, shared context/cache) so
      // the spill valve stays on for every other
      // TypedImperativeAggregate in the engine (r13 advice; only
      // SessionCount's buffers are provably bounded primitive arrays).
      // The window-lag formulation lives on in SessionizeSpec, which
      // proves window == aggregate == stateful-streaming.
      val s2 = s.newSession()
      // a fork starts from the SparkConf, not from this session's
      // runtime confs: carry over the scan sizing that
      // GraftSession.adaptScanParallelism set here
      Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
          "spark.sql.adaptive.coalescePartitions.minPartitionSize")
        .foreach(k => s.conf.getOption(k).foreach(s2.conf.set(k, _)))
      s2.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4194304")
      t(s2, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ms"))
        .repartition(col("user_id"))
        .groupBy(col("user_id"))
        .agg(graft.operators.SessionCount
          .sessionCount(col("ms"), 30L * 60 * 1000000)
          .cast("bigint").as("n_sessions"))
      // no trailing display sort: the correctness gate sorts rows
      // before hashing, and the r10 precedent (t02/t04) drops
      // display-only sorts from BOTH engines' texts
    },

    // ST3: stream-batch (fact-dim) join shape: events enriched with a
    // broadcast dim — in streaming mode the identical plan is a
    // stream-static join.
    QDef.sql("st03_stream_join",
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .join(broadcast(t(s, dir, "customer")), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
        .orderBy(col("c_mktsegment"), col("event_type"))
    },

    // ST5: streaming dedup — at-least-once input (events delivered
    // twice here) repaired to exactly-once by key. The batch plan is
    // dropDuplicates over the duplicated union; the streaming plan
    // (dropDuplicatesWithinWatermark, bounded state) is proven
    // equivalent in StreamDedupSpec.
    QDef.sql("st04_stream_dedup",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM (SELECT DISTINCT event_id, user_id FROM
        |  (SELECT event_id, user_id FROM events
        |   UNION ALL SELECT event_id, user_id FROM events))""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      StreamingOps.dedupWithinWatermark(
          e.unionAll(e), Seq("event_id"), "ts", "10 minutes")
        .agg(count(lit(1)).cast("bigint").as("n_events"),
          count_distinct(col("user_id")).cast("bigint").as("n_users"))
    }
  )
}
