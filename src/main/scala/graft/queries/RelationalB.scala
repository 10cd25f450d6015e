package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Joins
import graft.sources.Catalog

/** Core relational operators R21–R40 (SURVEY §2.1): subqueries, CTEs,
  * grouping sets, pivot/unpivot, qualify, mark/asof/range/positional
  * joins, sampling, top-N per group, ordered-set aggregates.
  */
object RelationalB {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** spark.sql against registered temp views — the SQL front door of
    * the engine (same Catalyst plans as the DataFrame API).
    */
  private def viaSql(s: SparkSession, dir: String, q: String): DataFrame = {
    Catalog.registerAll(s, dir)
    s.sql(q)
  }

  val defs: Seq[QDef] = Seq(

    // R21: correlated scalar subquery (TPC-H Q17 shape).
    {
      val q =
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#12'
          | AND l_quantity < (
          |   SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*))
          |   FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin
      QDef.sql("q21_subquery_scalar", q)((s, dir) => viaSql(s, dir, q))
    },

    // R22: correlated EXISTS subquery + agg (TPC-H Q4 shape).
    {
      val q =
        """SELECT o_orderpriority, COUNT(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          | AND EXISTS (SELECT 1 FROM lineitem
          |             WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin
      QDef.sql("q22_subquery_exists", q)((s, dir) => viaSql(s, dir, q))
    },

    // R23: CTE / WITH.
    {
      val q =
        """WITH big_cust AS (
          |  SELECT o_custkey, COUNT(*) AS n
          |  FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10
          |)
          |SELECT c_custkey, c_name, n
          |FROM customer JOIN big_cust ON c_custkey = o_custkey
          |ORDER BY n DESC, c_custkey""".stripMargin
      QDef.sql("q23_cte", q)((s, dir) => viaSql(s, dir, q))
    },

    // R24: ROLLUP with subtotal rows made explicit via COALESCE.
    QDef.sql("q24_rollup",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(graft.functions.Exact.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("rf"), col("ls"))
    },

    // R25: CUBE.
    QDef.sql("q25_cube",
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pri,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("n"), col("total"))
        .orderBy(col("st"), col("pri"))
    },

    // R26: PIVOT (wide conditional aggregation).
    QDef.sql("q26_pivot",
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_A,
        | CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_N,
        | CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_R
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"))
        .select(col("l_linestatus"), col("A").as("qty_A"), col("N").as("qty_N"),
          col("R").as("qty_R"))
        .orderBy(col("l_linestatus"))
    },

    // R27: UNPIVOT / melt.
    QDef.sql("q27_unpivot",
      """SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |ORDER BY p_partkey, metric""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice").cast("double").as("p_retailprice"),
          col("p_size").cast("double").as("p_size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size")), "metric", "value")
        .orderBy(col("p_partkey"), col("metric"))
    },

    // R28: HAVING (post-aggregation filter).
    QDef.sql("q28_having",
      """SELECT o_custkey, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 12)
        .orderBy(col("o_custkey"))
    },

    // R29: QUALIFY — DuckDB's window-filter clause; in Spark a window
    // column + filter (Catalyst prunes the helper column).
    QDef.sql("q29_qualify",
      """SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) <= 2
        |ORDER BY s_nationkey, s_acctbal DESC, s_suppkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      t(s, dir, "supplier")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 2)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .orderBy(col("s_nationkey"), col("s_acctbal").desc, col("s_suppkey"))
    },

    // R30: mark join — NOT IN with NULL-aware semantics; the fork's
    // AM_US mark join (am_us_join_mark.cpp) computes the same
    // three-valued membership mark.
    {
      val q =
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey NOT IN (
          |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
          |ORDER BY c_custkey""".stripMargin
      QDef.sql("q30_mark_join", q)((s, dir) => viaSql(s, dir, q))
    },

    // R31: ASOF join — latest order at-or-before each event timestamp,
    // WITH the matched order's payload columns (true ASOF semantics,
    // oracled against DuckDB's native ASOF LEFT JOIN). The right side
    // is made unique per (key, time) first so the payload is
    // deterministic under ties — same requirement DuckDB has.
    QDef.sql("q31_asof_join",
      """WITH ou AS (
        |  SELECT o_custkey, o_orderdate,
        |         MAX(o_orderkey) AS last_ok,
        |         ARG_MAX(o_totalprice, o_orderkey) AS last_tp
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, CAST(ou.o_orderdate AS DATE) AS last_od,
        |       ou.last_ok, ou.last_tp
        |FROM events e ASOF LEFT JOIN ou
        |  ON e.user_id = ou.o_custkey AND e.ts >= ou.o_orderdate""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      // r15 (guide §3.2): prune orders by the probe's key set BELOW the
      // pre-aggregation — the semi join commutes with the groupBy
      // because the join key IS a grouping key, so the aggregate (and
      // its exchange) processes only custkeys the events side can
      // match instead of every order. AQE broadcasts the (narrow,
      // distinct) key set, so the orders side is never exchanged for
      // the prune itself, and asofJoin's own probe-key prune is skipped
      // (pruneBuild = false) because it would find nothing left to drop.
      val o = t(s, dir, "orders").join(
        e.select(col("user_id").as("o_custkey")).distinct(),
        Seq("o_custkey"), "left_semi")
      // pre-aggregate orders to one row per (custkey, orderdate) for a
      // deterministic payload, BELOW the window. Encoding the tie-break
      // in the asof sort instead measured ~10 % slower at sf10
      // (OPTIMIZATION_r15.md §2b); RewriteEquivSpec checks this shape
      // against a plain join + row_number reference.
      val ou = o
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_ok"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("last_tp"))
      Joins.asofJoin(e, ou,
          col("user_id"), col("o_custkey"), col("ts"), col("o_orderdate"),
          payload = Seq("o_orderdate", "last_ok", "last_tp"),
          pruneBuild = false)
        .select(col("event_id"), col("user_id"),
          to_date(col("o_orderdate")).as("last_od"), col("last_ok"), col("last_tp"))
      // no trailing display sort (r14): corpus-sized output, the
      // oracle gate sorts rows itself — dropped from BOTH texts
      // (r10/r13 discipline; A/B sf0.1 and sf10 before landing)
    },

    // R32: range (band) self-join on events: pairs within 1 hour.
    // Scalable shape: one range-frame window per user — never an O(n²)
    // per-key nested loop.
    QDef.sql("q32_range_join",
      """SELECT e1.user_id, COUNT(*) AS n_pairs
        |FROM events e1 JOIN events e2
        |  ON e2.user_id = e1.user_id
        | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |GROUP BY e1.user_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      // r15 (guide §2.4): the per-user pair count is a RANGE-frame
      // window — for each event, count events of the same user in
      // (ts, ts+1h], then sum per user. ONE scan and ONE exchange
      // replace the banded self-join's two scans, 2×-exploded left
      // side, two join exchanges and per-partition hash builds; the
      // per-user sum rides the window's hashpartitioning(user_id)
      // with no further exchange. Exact semantics: at µs resolution
      // `ts2 > ts1` = lower bound +1 µs, `<= ts1 + 1h` = +3.6e9 µs;
      // the n_pairs > 0 filter reproduces the inner join's "user
      // appears iff it has a pair", the null filters its null-key
      // semantics. RewriteEquivSpec checks it against the inequality
      // self-join; the banded join measured ~2× slower at sf10
      // (OPTIMIZATION_r15.md §2d). No trailing display sort: the
      // oracle gate sorts rows itself and the output is corpus-scaled.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(1L, 3600L * 1000000)
      ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("c", count(lit(1)).over(w))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n_pairs"))
        .filter(col("n_pairs") > 0)
    },

    // R33: cross join (bounded dims only — a guarded operator at scale).
    QDef.sql("q33_cross_join",
      """SELECT r_name, st FROM region
        |CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders)
        |ORDER BY r_name, st""".stripMargin) { (s, dir) =>
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "orders").select(col("o_orderstatus").as("st")).distinct())
        .orderBy(col("r_name"), col("st"))
    },

    // R34: deterministic hash sampling — engine-portable (md5-based)
    // unlike TABLESAMPLE, and stable under repartitioning.
    QDef.sql("q34_sample",
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) = '0'""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(substring(md5(col("l_orderkey").cast("string").cast("binary")), 1, 1) === "0")
        .agg(count(lit(1)).as("n"), graft.functions.Exact.dsum(col("l_quantity")).as("sum_qty"))
    },

    // R35: POSITIONAL join (zip by row position under a total order).
    QDef.sql("q35_positional_join",
      """WITH l AS (SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_nationkey) AS p FROM nation),
        |     r AS (SELECT r_name, ROW_NUMBER() OVER (ORDER BY r_regionkey) AS p FROM region)
        |SELECT l.n_name, r.r_name FROM l JOIN r ON l.p = r.p
        |ORDER BY l.n_name""".stripMargin) { (s, dir) =>
      Joins.positionalJoin(
          t(s, dir, "nation").select(col("n_name"), col("n_nationkey")), col("n_nationkey"),
          t(s, dir, "region").select(col("r_name"), col("r_regionkey")), col("r_regionkey"))
        .select(col("n_name"), col("r_name"))
        .orderBy(col("n_name"))
    },

    // R36: LIMIT + OFFSET under total order.
    QDef.sql("q36_limit_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10 OFFSET 5""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(5).limit(10)
    },

    // R37: top-N per group (window + filter; single shuffle on the key).
    QDef.sql("q37_topn_per_group",
      """SELECT c_mktsegment, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 3
        |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey"))
    },

    // R38: exact median / interpolated percentile.
    QDef.sql("q38_median",
      """SELECT c_mktsegment,
        | MEDIAN(c_acctbal) AS med_bal,
        | QUANTILE_CONT(c_acctbal, 0.25) AS p25_bal
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(expr("median(c_acctbal)").as("med_bal"),
          expr("percentile(c_acctbal, 0.25D)").as("p25_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // R39: arg_min / arg_max (min_by / max_by).
    QDef.sql("q39_arg_minmax",
      """SELECT o_orderpriority,
        | ARG_MAX(o_orderkey, o_totalprice) AS max_order,
        | ARG_MIN(o_orderkey, o_totalprice) AS min_order
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(max_by(col("o_orderkey"), col("o_totalprice")).as("max_order"),
          min_by(col("o_orderkey"), col("o_totalprice")).as("min_order"))
        .orderBy(col("o_orderpriority"))
    },

    // R40: list / string aggregation with deterministic element order.
    QDef.sql("q40_list_agg",
      """SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS names_csv,
        | COUNT(*) AS n
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("names_csv"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))
    }
  )
}
