package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.operators.{GroupJoin, Joins}
import graft.sources.Catalog

/** Core relational operators R1–R20 (SURVEY §2.1).
  *
  * Every query is a declarative plan (Catalyst handles pushdown,
  * pruning, join strategy, partial aggregation) and ends in a
  * deterministic ORDER BY so results are engine-portable.
  */
object RelationalA {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** l_extendedprice * (1 - l_discount) in pure decimal arithmetic. */
  private val revSql = revenueSql

  val defs: Seq[QDef] = Seq(

    // R2: grouped aggregation, the bread-and-butter shape. Map-side
    // partial agg → 1 shuffle on (returnflag, linestatus).
    QDef.text("q01_agg_basic",
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // R1: filter + projection — both must reach the parquet scan
    // (PushedFilters / 4-column ReadSchema in explain).
    QDef.text("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        | CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'
        | AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // R3: plain equi inner join, shuffle-hash/broadcast picked by Catalyst.
    QDef.text("q03_join_inner",
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // R4: multi-way join + agg + top-N (TPC-H Q3 shape).
    QDef.text("q04_join_multi",
      s"""SELECT l_orderkey,
         | CAST(SUM($revSql) AS DOUBLE) AS revenue,
         | CAST(o_orderdate AS DATE) AS order_date
         |FROM customer JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         | AND o_orderdate < TIMESTAMP '1998-01-01'
         | AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin),

    // R5: snowflake join with explicitly broadcast dims (TPC-H Q5 shape).
    QDef.text("q05_join_broadcast",
      s"""SELECT n_name, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         | JOIN nation ON s_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),

    // R6: non-equi (theta) join — Spark analog of the fork's AM_US_JOIN
    // nested-loop operator (reference src/execution/am_us_join/
    // am_us_join_inner.cpp): plans to BroadcastNestedLoopJoin.
    QDef.sql("q06_theta_join",
      // no display ORDER BY (r10/r13 discipline: the oracle gate sorts
      // rows itself; a trailing sort of the |S|×24 output costs Spark
      // a full exchange+sort that DuckDB does in RAM — 28→? s at sf100)
      """SELECT s_suppkey, n_nationkey
        |FROM supplier JOIN nation ON s_nationkey <> n_nationkey""".stripMargin) { (s, dir) =>
      Joins.thetaJoin(t(s, dir, "supplier"), t(s, dir, "nation"),
          col("s_nationkey") =!= col("n_nationkey"))
        .select(col("s_suppkey"), col("n_nationkey"))
    },

    // R7: GroupJoin fusion (reference physical_group_join.cpp): the
    // per-customer aggregate is computed first (|customers| rows, one
    // shuffle) and then joined to the customer dim on its own hash
    // partitioning.
    QDef.sql("q07_groupjoin",
      """SELECT c_custkey, c_name, order_count, total_spent
        |FROM customer JOIN (
        |  SELECT o_custkey, COUNT(*) AS order_count,
        |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |  FROM orders GROUP BY o_custkey
        |) ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      GroupJoin(
        fact = t(s, dir, "orders"),
        keys = Seq(col("o_custkey")),
        aggs = Seq(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("total_spent")),
        other = t(s, dir, "customer"),
        cond = col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("order_count"), col("total_spent"))
        // the trailing ORDER BY is KEPT deliberately (r13 A/B): the
        // sort-free variant measured 6.6-8.0 s vs 2.3-2.7 s WITH the
        // sort at sf10 - the range exchange the sort induces evens out
        // the skewed join output before the write, and AQE coalesces
        // it; removing the sort let the skewed partitions dominate.
        .orderBy(col("c_custkey"))
    },

    // R8: left semi join (EXISTS) — no right columns materialized.
    QDef.text("q08_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // R9: left anti join (NOT EXISTS) — customers with no large order.
    QDef.text("q09_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin),

    // R10: left outer join + null-safe aggregation.
    QDef.text("q10_outer_join",
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        | COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin),

    // R11: distinct aggregation (expand-based two-phase in Spark).
    QDef.text("q11_agg_distinct",
      """SELECT o_orderpriority,
        | COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(DISTINCT o_orderstatus) AS n_statuses,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // R12: statistical aggregates, derived from exact decimal moments
    // so results are order-independent (portable across engines and
    // across parallelism levels — see graft.functions.Exact).
    QDef.text("q12_agg_stats",
      """SELECT l_returnflag, n,
        | sx / n AS mean_qty,
        | (sxx - sx*sx/n) / (n - 1) AS var_qty,
        | SQRT((sxx - sx*sx/n) / (n - 1)) AS std_qty,
        | (sxy - sx*sy/n) / SQRT((sxx - sx*sx/n) * (syy - sy*sy/n)) AS corr_qp
        |FROM (
        | SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syy,
        |  CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy
        | FROM lineitem GROUP BY l_returnflag
        |)
        |ORDER BY l_returnflag""".stripMargin),

    // R13: ranking window functions.
    QDef.sql("q13_window_rank",
      """SELECT c_custkey, c_nationkey,
        | ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
        | RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk,
        | DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS drnk
        |FROM customer""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          row_number().over(w).cast("bigint").as("rn"),
          rank().over(w).cast("bigint").as("rnk"),
          dense_rank().over(w).cast("bigint").as("drnk"))
        // no display sort (r13: the gate sorts rows; a distributed
        // sort of the full per-customer output is display-only cost)
    },

    // R14: frame aggregates + lead/lag (running totals per customer).
    QDef.text("q14_window_running",
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        | LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        | LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R15: global top-N (TakeOrderedAndProject — no full sort at scale).
    QDef.text("q15_sort_limit",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin),

    // R16: DISTINCT (hash aggregate on all columns).
    QDef.text("q16_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // R17: UNION ALL across heterogeneous sources.
    QDef.text("q17_union",
      """SELECT c_custkey AS id, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS src FROM supplier
        |ORDER BY src, id""".stripMargin),

    // R18: INTERSECT (set semantics).
    QDef.text("q18_intersect",
      """SELECT c_custkey AS k FROM customer
        |INTERSECT
        |SELECT o_custkey AS k FROM orders
        |ORDER BY k""".stripMargin),

    // R19: EXCEPT (set semantics) — custkeys minus large-order custkeys.
    QDef.text("q19_except",
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000.0
        |ORDER BY k""".stripMargin),

    // R20: conditional aggregation (TPC-H Q14 promo-share shape).
    QDef.text("q20_case_agg",
      s"""SELECT
         | 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revSql END) AS DOUBLE)
         |   / CAST(SUM($revSql) AS DOUBLE) AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin)
  )
}
