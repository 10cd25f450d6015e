package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GroupsFrame, WindowExclude}
import graft.operators.WindowExclude.{ExcludeCurrentRow, ExcludeGroup, ExcludeTies, countExclude, sumExclude}
import graft.sources.Catalog

/** Round-4 window surface: frame EXCLUDE and the named WINDOW clause
  * (SURVEY §2; reference: src/execution/window_segment_tree.cpp's
  * exclusion handling, src/parser/transform/helpers/transform_sample.cpp
  * siblings for WINDOW clause binding). The dialect writes each named
  * window into its references; EXCLUDE reaches operators/WindowExclude
  * through plans/WindowFrameRule, the same algebra q55's hand plan
  * calls.
  *
  * Values aggregate as fixed-point BIGINT units (floor(value·100+0.5))
  * so every window sum is exact and order-independent — the engines
  * must agree bit-for-bit, no float drift. Oracles CAST SUM back to
  * BIGINT because DuckDB widens BIGINT sums to HUGEINT.
  */
object RelationalF {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val defs: Seq[QDef] = Seq(

    // R55: frame EXCLUDE (CURRENT ROW / GROUP / TIES). Two frame
    // shapes: a full-partition RANGE frame ordered by a deliberately
    // tied key (hour bucket — peer groups are real), and a bounded
    // ROWS frame with a unique tie-breaker (required for ANY
    // deterministic bounded-ROWS result). One window pass per
    // (partition, order) spec — the exclusion rewrites add
    // expressions, not exchanges.
    QDef.sql("q55_window_exclude",
      """SELECT user_id, event_id,
        | CAST(SUM(v) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS sx_cur,
        | CAST(SUM(v) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS BIGINT) AS sx_grp,
        | CAST(SUM(v) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS BIGINT) AS sx_ties,
        | CAST(COUNT(v) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS BIGINT) AS cx_grp,
        | CAST(SUM(v) OVER (wr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS sr_cur,
        | CAST(MIN(v) OVER (wr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS mn_cur
        |FROM (SELECT user_id, event_id,
        |        CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v,
        |        date_trunc('hour', ts) AS hb
        |      FROM events)
        |WINDOW
        | wf AS (PARTITION BY user_id ORDER BY hb),
        | wr AS (PARTITION BY user_id ORDER BY hb, event_id)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"),
        date_trunc("hour", col("ts")).as("hb"))
      val part = Seq(col("user_id"))
      val ordFull = Seq(col("hb"))
      val ordRows = Seq(col("hb"), col("event_id"))
      val wf = WindowExclude.FullPartition
      val wr = WindowExclude.RowsAround(3, 3)
      val v = col("v")
      ev.select(col("user_id"), col("event_id"),
          sumExclude(v, wf, part, ordFull, ExcludeCurrentRow).as("sx_cur"),
          sumExclude(v, wf, part, ordFull, ExcludeGroup).as("sx_grp"),
          sumExclude(v, wf, part, ordFull, ExcludeTies).as("sx_ties"),
          countExclude(v, wf, part, ordFull, ExcludeGroup).as("cx_grp"),
          sumExclude(v, wr, part, ordRows, ExcludeCurrentRow).as("sr_cur"),
          WindowExclude.minExcludeCurrentRow(v, part, ordRows, 3, 3).as("mn_cur"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // R56: named WINDOW clause — one definition, many consumers (both
    // named windows collapse into at most two sorted passes).
    QDef.text("q56_named_window",
      """SELECT user_id, event_id,
        | RANK() OVER w AS rnk,
        | CAST(SUM(v) OVER w AS BIGINT) AS run_sum,
        | CAST(COUNT(*) OVER w_all AS BIGINT) AS n_part,
        | CAST(MAX(v) OVER w_all AS BIGINT) AS max_part
        |FROM (SELECT user_id, event_id,
        |        CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
        |       w_all AS (PARTITION BY user_id)
        |ORDER BY user_id, event_id""".stripMargin),

    // R58: UNION BY NAME — schema-aligned union with column
    // reordering and missing-column NULL fill (the reference's
    // UNION ALL BY NAME, set_operation_node.cpp); the aggregate on top
    // proves both the alignment (amt sums across both branches) and
    // the NULL fill (seg exists only in the customer branch).
    QDef.text("q57_union_by_name",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | CAST(SUM(CASE WHEN seg IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_seg
        |FROM (SELECT o_orderkey AS id, o_totalprice AS amt FROM orders
        |      UNION ALL BY NAME
        |      SELECT c_acctbal AS amt, c_custkey AS id, c_mktsegment AS seg
        |      FROM customer)""".stripMargin),

    // R61: GROUPS window frame — SQL:2011 frame bounds counted in
    // peer groups (operators/GroupsFrame.scala: RANGE-over-dense_rank
    // rewrite; neither engine ships native GROUPS, so the oracle
    // spells the same rank formulation — the rewrite IS the portable
    // definition). Ties are real: hour buckets group many events.
    QDef.sql("q60_groups_frame",
      """WITH b AS (SELECT user_id, event_id,
        |        CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v,
        |        date_trunc('hour', ts) AS hb
        |      FROM events),
        |d AS (SELECT *, DENSE_RANK() OVER
        |        (PARTITION BY user_id ORDER BY hb) AS dr FROM b)
        |SELECT user_id, event_id,
        |  CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY dr
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS sg,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY dr
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS cg
        |FROM d ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val b = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"),
        date_trunc("hour", col("ts")).as("hb"))
      val part = Seq(col("user_id")); val ord = Seq(col("hb"))
      val withSum = GroupsFrame.withGroupsAgg(
        b, "sg", sum(col("v")), part, ord, 1, 1)
      GroupsFrame.withGroupsAgg(
          withSum, "cg", count(lit(1)), part, ord, 1, 1)
        .select(col("user_id"), col("event_id"),
          col("sg").cast("long").as("sg"), col("cg").cast("long").as("cg"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // R59: INTERSECT ALL — bag-semantics intersection (multiplicity =
    // min of the two sides), the ALL flag the reference's parser
    // carries (transform_select_node.cpp:131) and q18 deliberately
    // didn't cover. Spark plans it as a counted aggregate + generate
    // — no quadratic anything.
    QDef.text("q58_intersect_all",
      """SELECT o_orderpriority, o_orderstatus
        |FROM orders WHERE o_totalprice < 150000
        |INTERSECT ALL
        |SELECT o_orderpriority, o_orderstatus
        |FROM orders WHERE o_totalprice > 50000
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin),

    // R60: EXCEPT ALL — bag-semantics difference (multiplicity =
    // max(0, left − right)); same rationale as R59. The right side's
    // price band is a STRICT subset of the left's range, so left
    // multiplicities dominate right ones at every scale factor (an
    // overlapping split left the bag empty at sf0.001 and tripped
    // the rows>0 smoke).
    QDef.text("q59_except_all",
      """SELECT o_orderpriority, o_orderstatus
        |FROM orders WHERE o_totalprice < 150000
        |EXCEPT ALL
        |SELECT o_orderpriority, o_orderstatus
        |FROM orders WHERE o_totalprice > 120000 AND o_totalprice < 150000
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)
  )
}
