package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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

  private val decQty = DecimalType(18, 2)

  /** l_extendedprice * (1 - l_discount) in pure decimal arithmetic. */
  private val revSql = revenueSql

  val defs: Seq[QDef] = Seq(

    // R2: grouped aggregation, the bread-and-butter shape. Map-side
    // partial agg → 1 shuffle on (returnflag, linestatus).
    QDef.sql("q01_agg_basic",
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // R1: filter + projection — both must reach the parquet scan
    // (PushedFilters / 4-column ReadSchema in explain).
    QDef.sql("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        | CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'
        | AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-03-01").cast("timestamp")
          && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          to_date(col("l_shipdate")).as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // R3: plain equi inner join, shuffle-hash/broadcast picked by Catalyst.
    QDef.sql("q03_join_inner",
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // R4: multi-way join + agg + top-N (TPC-H Q3 shape).
    QDef.sql("q04_join_multi",
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
         |LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          to_date(col("o_orderdate")).as("order_date"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // R5: snowflake join with explicitly broadcast dims (TPC-H Q5 shape).
    QDef.sql("q05_join_broadcast",
      s"""SELECT n_name, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         | JOIN nation ON s_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

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
    QDef.sql("q08_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // R9: left anti join (NOT EXISTS) — customers with no large order.
    QDef.sql("q09_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // R10: left outer join + null-safe aggregation.
    QDef.sql("q10_outer_join",
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        | COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"), dsum0(col("o_totalprice")).as("total"))
        .orderBy(col("c_custkey"))
    },

    // R11: distinct aggregation (expand-based two-phase in Spark).
    QDef.sql("q11_agg_distinct",
      """SELECT o_orderpriority,
        | COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(DISTINCT o_orderstatus) AS n_statuses,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderstatus")).as("n_statuses"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // R12: statistical aggregates, derived from exact decimal moments
    // so results are order-independent (portable across engines and
    // across parallelism levels — see graft.functions.Exact).
    QDef.sql("q12_agg_stats",
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
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val m = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          dsum(col("l_quantity")).as("sx"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(18, 4))).cast("double").as("sxx"),
          dsum(col("l_extendedprice")).as("sy"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(18, 4))).cast("double").as("syy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(18, 4))).cast("double").as("sxy"))
      m.select(
        col("l_returnflag"), col("n"),
        (col("sx") / col("n")).as("mean_qty"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_qty"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("std_qty"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
               (col("syy") - col("sy") * col("sy") / col("n")))).as("corr_qp"))
        .orderBy(col("l_returnflag"))
    },

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
    QDef.sql("q14_window_running",
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        | LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        | LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(decQty)).over(wf).cast("double").as("running_spend"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // R15: global top-N (TakeOrderedAndProject — no full sort at scale).
    QDef.sql("q15_sort_limit",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },

    // R16: DISTINCT (hash aggregate on all columns).
    QDef.sql("q16_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // R17: UNION ALL across heterogeneous sources.
    QDef.sql("q17_union",
      """SELECT c_custkey AS id, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS src FROM supplier
        |ORDER BY src, id""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("id"), lit("customer").as("src"))
        .unionAll(
          t(s, dir, "supplier").select(col("s_suppkey").as("id"), lit("supplier").as("src")))
        .orderBy(col("src"), col("id"))
    },

    // R18: INTERSECT (set semantics).
    QDef.sql("q18_intersect",
      """SELECT c_custkey AS k FROM customer
        |INTERSECT
        |SELECT o_custkey AS k FROM orders
        |ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy(col("k"))
    },

    // R19: EXCEPT (set semantics) — custkeys minus large-order custkeys.
    QDef.sql("q19_except",
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000.0
        |ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("k")))
        .orderBy(col("k"))
    },

    // R20: conditional aggregation (TPC-H Q14 promo-share shape).
    QDef.sql("q20_case_agg",
      s"""SELECT
         | 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revSql END) AS DOUBLE)
         |   / CAST(SUM($revSql) AS DOUBLE) AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sumRevenueWhere(col("p_type") === "PROMO",
              col("l_extendedprice"), col("l_discount")) /
            sumRevenue(col("l_extendedprice"), col("l_discount"))).as("promo_share"))
    }
  )
}
