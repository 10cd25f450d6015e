package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Catalog

/** Surface extensions R48–R52 + F12–F14: interval range frames,
  * recursive CTEs, FILTER clause, explicit GROUPING SETS, null
  * ordering, time/map/pattern functions.
  */
object RelationalD {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val defs: Seq[QDef] = Seq(

    // R48: RANGE frame over event time (rolling 30-day window).
    QDef.sql("q48_window_range",
      """SELECT o_custkey, o_orderkey,
        | CAST(COUNT(*) OVER w AS BIGINT) AS n_30d,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_timestamp(col("o_orderdate")))
        .rangeBetween(-2592000L, 0L)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).cast("bigint").as("n_30d"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("spend_30d"))
      // no trailing display sort (r14): orders-sized output already
      // partition-sorted by the window; gate sorts rows itself —
      // dropped from BOTH texts (r10/r13 discipline, A/B'd)
    },

    // R49: recursive CTE (series + running product shape).
    QDef.text("q49_recursive_cte",
      """WITH RECURSIVE t(n, fact) AS (
        |  SELECT 1, CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT n + 1, fact * (n + 1) FROM t WHERE n < 12)
        |SELECT CAST(n AS INT) AS n, fact FROM t ORDER BY n""".stripMargin),

    // R50: FILTER clause on aggregates.
    QDef.text("q50_filter_clause",
      """SELECT o_orderpriority,
        | COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        | COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        | COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // R51: explicit GROUPING SETS.
    QDef.text("q51_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        | COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin),

    // R52: explicit NULLS FIRST/LAST ordering (engine defaults differ:
    // Spark sorts nulls first ASC, DuckDB last — always be explicit).
    QDef.text("q52_null_ordering",
      """SELECT o_orderkey, prev FROM (
        |  SELECT o_orderkey, LAG(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
        |  FROM orders)
        |ORDER BY prev NULLS FIRST, o_orderkey
        |LIMIT 20""".stripMargin),

    // R53: top-K per group on the CUSTOM bounded-heap operator
    // (graft.plans.TopKPerGroupExec) — same oracle as a window+filter,
    // exercised through the injected planner strategy.
    QDef.sql("q53_topk_custom",
      """SELECT s_nationkey, s_suppkey, s_acctbal FROM (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |   ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rn
        |  FROM supplier)
        |WHERE rn <= 2
        |ORDER BY s_nationkey, s_acctbal DESC, s_suppkey""".stripMargin) { (s, dir) =>
      graft.operators.TopK.perGroup(
          t(s, dir, "supplier"),
          keys = Seq(col("s_nationkey")),
          order = Seq(col("s_acctbal").desc, col("s_suppkey")),
          k = 2)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
        .orderBy(col("s_nationkey"), col("s_acctbal").desc, col("s_suppkey"))
    },

    // F12: epoch/format/round-trip time functions.
    QDef.text("f12_time_funcs",
      """SELECT o_orderkey,
        | CAST(epoch(o_orderdate) AS BIGINT) AS ep,
        | strftime(o_orderdate, '%Y-%m') AS ym,
        | CAST(to_timestamp(epoch(o_orderdate)) AS DATE) AS round_trip
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F13: MAP construction + access (DuckDB map access yields a list,
    // hence the [1]; Spark element_at is scalar).
    QDef.text("f13_map_funcs",
      """SELECT p_partkey,
        | CAST(MAP {'size': p_size, 'dbl': p_size * 2}['dbl'][1] AS INT) AS dbl_via_map,
        | array_to_string(map_keys(MAP {'size': p_size, 'dbl': p_size * 2}), ',') AS keys_csv,
        | CAST(cardinality(MAP {'size': p_size, 'dbl': p_size * 2}) AS INT) AS n_keys
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F14: case-insensitive pattern matching.
    QDef.text("f14_ilike",
      """SELECT p_partkey,
        | CAST(p_type ILIKE '%PrOmO%' AS BOOLEAN) AS is_promo,
        | CAST(p_name LIKE '%widget%' AS BOOLEAN) AS is_widget,
        | CAST(p_name NOT LIKE 'cold%' AS BOOLEAN) AS not_cold
        |FROM part ORDER BY p_partkey""".stripMargin)
  )
}
