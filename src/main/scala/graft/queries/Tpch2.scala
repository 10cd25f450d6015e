package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.sources.Catalog

/** TPC-H extension suite (SURVEY §2.2, T9–T17): the remaining queries
  * adaptable to the reduced schema. partsupp does not exist and
  * lineitem has no commitdate/receiptdate/shipmode, so Q2/Q11/Q16/Q20
  * keep their SHAPE with lineitem-derived substitutes and Q21's
  * multi-correlation uses returnflag; adaptations are noted per query.
  */
object Tpch2 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private def ts(d: String): Column = lit(d).cast("timestamp")
  private val revSql = revenueSql

  val defs: Seq[QDef] = Seq(

    // Q4 (adapted: EXISTS over late-shipped lines — shipped after the
    // order quarter instead of receipt>commit which the schema lacks).
    QDef.text("tpch_q4",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        | AND EXISTS (SELECT 1 FROM lineitem
        |             WHERE l_orderkey = o_orderkey
        |               AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Q7: volume shipping between two nations.
    QDef.text("tpch_q7",
      s"""SELECT supp_nation, cust_nation, l_year,
         | CAST(SUM(volume) AS DOUBLE) AS revenue
         |FROM (
         | SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  EXTRACT(year FROM l_shipdate) AS l_year, $revSql AS volume
         | FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         | WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
         |     OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
         |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |) shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // Q8 (adapted: market share of one supplier nation inside a region,
    // PROMO parts standing in for the p_type filter).
    QDef.text("tpch_q8",
      s"""SELECT o_year,
         | CAST(SUM(CASE WHEN nation = 'NATION_3' THEN $revSql END) AS DOUBLE)
         |   / CAST(SUM($revSql) AS DOUBLE) AS mkt_share
         |FROM (
         | SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         |  l_extendedprice, l_discount, n2.n_name AS nation
         | FROM part JOIN lineitem ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         | WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |) nations
         |GROUP BY o_year
         |ORDER BY o_year""".stripMargin),

    // Q9 (adapted: profit = revenue - retailprice·qty since partsupp/
    // supplycost don't exist; parts picked by name pattern).
    QDef.text("tpch_q9",
      """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM (
        | SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |   - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS amount
        | FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE p_name LIKE '%widget%'
        |) profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin),

    // Q13: customer distribution by order count (left join + double agg).
    QDef.text("tpch_q13",
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |   AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // Q15: top supplier(s) by quarterly revenue (view + max subquery).
    QDef.text("tpch_q15",
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
        |ORDER BY s_suppkey""".stripMargin),

    // Q16 (adapted: supplier breadth per brand/size from lineitem since
    // partsupp doesn't exist).
    QDef.text("tpch_q16",
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size >= 10
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),

    // Q21 (adapted: suppliers with returned lines on multi-supplier
    // orders where no other supplier had returns — keeps the
    // EXISTS + NOT EXISTS double correlation).
    QDef.text("tpch_q21",
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        | JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        | AND EXISTS (SELECT 1 FROM lineitem l2
        |             WHERE l2.l_orderkey = l1.l_orderkey
        |               AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                 WHERE l3.l_orderkey = l1.l_orderkey
        |                   AND l3.l_suppkey <> l1.l_suppkey
        |                   AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin),

    // Q22 (adapted: above-average-balance customers with no orders —
    // no phone column, so the country-code IN-list becomes nationkey).
    QDef.text("tpch_q22",
      """SELECT cntrycode, COUNT(*) AS numcust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal
        |  FROM customer
        |  WHERE c_nationkey % 10 IN (1, 3, 5, 7)
        |   AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
        |                    FROM customer WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 3, 5, 7))
        |   AND NOT EXISTS (SELECT 1 FROM orders
        |                   WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin),

    // Q14: promo revenue share. The conditional and total revenue sums
    // ride ONE scan/aggregate (sumRevenueWhere / sumRevenue share the
    // exchange); part is broadcast. The percentage divides two doubles
    // both derived from exact int64 unit sums — engine-identical.
    QDef.sql("tpch_q14",
      s"""SELECT CAST(100.00 * SUM(CASE WHEN p_type = 'PROMO' THEN $revSql END)
         |         / SUM($revSql) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
         |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-03-01") && col("l_shipdate") < ts("1997-04-01"))
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(((sumRevenueWhere(col("p_type") === "PROMO",
              col("l_extendedprice"), col("l_discount")) * 100.0)
            / sumRevenue(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("promo_revenue"))
    },

    // Q17 (adapted: p_container does not exist → p_brand + p_size
    // select the part group): small-quantity-order revenue.
    QDef.text("tpch_q17",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size = 5
        |  AND l_quantity < (
        |    SELECT 0.2 * AVG(CAST(l2.l_quantity AS DECIMAL(18,2)))
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
  )
}
