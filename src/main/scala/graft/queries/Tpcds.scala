package graft.queries

/** TPC-DS-shape starter set (20 queries) adapted to the test star
  * schema — the query SHAPES of the reference's TPC-DS suite
  * (/root/reference/benchmark/tpcds/) re-targeted at the tables that
  * exist here: returns-vs-average correlated filters (q1), date-dim
  * grouped sales (q3), channel ROLLUP (q5), multi-metric averages
  * (q7), order-count banding (q34), top revenue segments (q42),
  * year-over-year LAG (q47), cumulative windows (q51),
  * below-class-average items (q65), ratio-to-class windows (q98).
  *
  * Query text is IDENTICAL on both engines (ANSI subset both parse);
  * money goes through DECIMAL(18,2) sums before any DOUBLE cast and
  * averages are SUM/COUNT (never AVG(decimal) — engine result types
  * differ), so hashes match exactly.
  */
object Tpcds {

  val defs: Seq[QDef] = Seq(

    // DS q1 shape: entities above 1.2× the average of a derived metric.
    QDef.text("tpcds_q01",
      """WITH ret AS (
        |  SELECT o_custkey, COUNT(*) AS nret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY o_custkey)
        |SELECT c_custkey, c_name, nret FROM ret JOIN customer ON c_custkey = o_custkey
        |WHERE nret > (SELECT SUM(nret) * 1.2 / COUNT(*) FROM ret)
        |ORDER BY nret DESC, c_custkey LIMIT 100""".stripMargin),

    // DS q3 shape: date-part grouped brand sales.
    QDef.text("tpcds_q03",
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS d_year, p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_agg
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'PROMO'
        |GROUP BY year(l_shipdate), p_brand
        |ORDER BY d_year, sum_agg DESC, p_brand""".stripMargin),

    // DS q5 shape: multi-channel UNION ALL + ROLLUP summary.
    QDef.text("tpcds_q05",
      """WITH ch AS (
        |  SELECT 'orders' AS channel, o_orderpriority AS grp, CAST(o_totalprice AS DECIMAL(18,2)) AS amt FROM orders
        |  UNION ALL
        |  SELECT 'lineitem' AS channel, l_returnflag AS grp, CAST(l_extendedprice AS DECIMAL(18,2)) AS amt FROM lineitem)
        |SELECT COALESCE(channel, 'ALL') AS channel, COALESCE(grp, 'ALL') AS grp,
        | CAST(SUM(amt) AS DOUBLE) AS sales, COUNT(*) AS n
        |FROM ch GROUP BY ROLLUP(channel, grp) ORDER BY channel, grp""".stripMargin),

    // DS q7 shape: multi-metric averages under a date filter.
    QDef.text("tpcds_q07",
      """SELECT p_type,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        | COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |GROUP BY p_type ORDER BY p_type""".stripMargin),

    // DS q34 shape: entities whose activity count falls in a band.
    QDef.text("tpcds_q34",
      """WITH cnt AS (
        |  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
        |  HAVING COUNT(*) BETWEEN 13 AND 20)
        |SELECT c_custkey, c_name, n FROM customer JOIN cnt ON c_custkey = o_custkey
        |ORDER BY n DESC, c_custkey""".stripMargin),

    // DS q42 shape: top revenue by (year, segment).
    QDef.text("tpcds_q42",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS d_year, c_mktsegment,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY rev DESC, d_year, c_mktsegment LIMIT 20""".stripMargin),

    // DS q47 shape: month-series LAG per brand.
    QDef.text("tpcds_q47",
      """WITH m AS (
        |  SELECT p_brand, CAST(year(l_shipdate) AS BIGINT) AS yr, CAST(month(l_shipdate) AS BIGINT) AS mo,
        |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2, 3)
        |SELECT p_brand, yr, mo, sales,
        | LAG(sales) OVER (PARTITION BY p_brand ORDER BY yr, mo) AS prev_sales
        |FROM m ORDER BY p_brand, yr, mo""".stripMargin),

    // DS q51 shape: running cumulative totals per entity.
    QDef.text("tpcds_q51",
      """WITH daily AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, d,
        | SUM(amt) OVER (PARTITION BY o_custkey ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum
        |FROM daily ORDER BY o_custkey, d LIMIT 1000""".stripMargin),

    // DS q65 shape: items below a fraction of their class average —
    // the class average stays in exact decimal until one final cast.
    QDef.text("tpcds_q65",
      """WITH pr AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |j AS (SELECT p_type, p_partkey, rev FROM pr JOIN part ON p_partkey = l_partkey),
        |a AS (SELECT p_type AS a_type, CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS avg_rev FROM j GROUP BY p_type)
        |SELECT p_type, p_partkey, CAST(rev AS DOUBLE) AS rev
        |FROM j JOIN a ON p_type = a_type
        |WHERE CAST(rev AS DOUBLE) < 0.8 * avg_rev ORDER BY p_type, p_partkey""".stripMargin),

    // DS q98 shape: item revenue as a ratio of its class total
    // (aggregate-of-aggregate window).
    QDef.text("tpcds_q98",
      """WITH r AS (
        |  SELECT p_type, p_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS itemrev,
        |   CAST(SUM(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))) OVER (PARTITION BY p_type) AS DOUBLE) AS classrev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_type, p_partkey)
        |SELECT p_type, p_partkey, itemrev, itemrev * 100.0 / classrev AS ratio
        |FROM r ORDER BY p_type, p_partkey""".stripMargin),

    // DS q11 shape: year-over-year customer growth — the aggregate
    // CTE self-joined on entity with per-year slices; ratio filter on
    // exactly-derived doubles.
    QDef.text("tpcds_q11",
      """WITH yr AS (
        |  SELECT o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1, 2)
        |SELECT a.o_custkey, a.spend AS spend_a, b.spend AS spend_b
        |FROM yr a JOIN yr b ON a.o_custkey = b.o_custkey
        |WHERE a.yr = 1995 AND b.yr = 1996 AND a.spend > 0 AND b.spend / a.spend > 1.5
        |ORDER BY a.o_custkey""".stripMargin),

    // DS q88 shape: one scan, many banded counts via FILTER — the
    // multi-count pattern that replaces 8 self-joins in the original.
    QDef.text("tpcds_q88",
      """SELECT
        |  COUNT(*) FILTER (WHERE l_quantity < 10) AS band1,
        |  COUNT(*) FILTER (WHERE l_quantity >= 10 AND l_quantity < 20) AS band2,
        |  COUNT(*) FILTER (WHERE l_quantity >= 20 AND l_quantity < 30) AS band3,
        |  COUNT(*) FILTER (WHERE l_quantity >= 30 AND l_quantity < 40) AS band4,
        |  COUNT(*) FILTER (WHERE l_quantity >= 40) AS band5,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS hi_disc,
        |  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS returned
        |FROM lineitem""".stripMargin),

    // DS q23 shape: frequent items ∩ best customers — two HAVING
    // CTEs driving IN-subquery semi-joins into the fact scan.
    QDef.text("tpcds_q23",
      """WITH freq AS (
        |  SELECT l_partkey FROM lineitem
        |  GROUP BY l_partkey HAVING COUNT(DISTINCT l_orderkey) > 3),
        |best AS (
        |  SELECT o_custkey FROM orders
        |  GROUP BY o_custkey
        |  HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 400000),
        |j AS (
        |  SELECT l_partkey, o_custkey, l_extendedprice
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales,
        |       COUNT(*) AS n_lines
        |FROM j
        |WHERE l_partkey IN (SELECT l_partkey FROM freq)
        |  AND o_custkey IN (SELECT o_custkey FROM best)""".stripMargin),

    // DS q59 shape: same-month sales ratio across consecutive years
    // per nation (aggregate CTE self-join keyed on (entity, month)).
    QDef.text("tpcds_q59",
      """WITH m AS (
        |  SELECT c_nationkey AS nk, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT a.nk, a.mo, a.sales AS sales_a, b.sales AS sales_b,
        |       b.sales / a.sales AS ratio
        |FROM m a JOIN m b ON a.nk = b.nk AND a.mo = b.mo
        |WHERE a.yr = 1995 AND b.yr = 1996
        |ORDER BY a.nk, a.mo""".stripMargin),

    // DS q67 shape: ROLLUP hierarchy + rank-within-nation over it —
    // subtotal rows (NULL brand) rank alongside leaves.
    // DS q36 shape: ROLLUP hierarchy with GROUPING()-derived level +
    // rank WITHIN PARENT (subtotal rows partition by their parent key
    // via the CASE-on-grouping trick, exactly q36's spelling). NULLS
    // FIRST pinned — Spark and DuckDB default null ordering differs.
    QDef.text("tpcds_q36",
      """WITH agg AS (
        |  SELECT n_name, p_type,
        |    GROUPING(n_name) + GROUPING(p_type) AS lochierarchy,
        |    GROUPING(p_type) AS g_type,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY ROLLUP(n_name, p_type))
        |SELECT lochierarchy, n_name, p_type, sales,
        |  RANK() OVER (PARTITION BY lochierarchy, CASE WHEN g_type = 1 THEN n_name END
        |               ORDER BY sales DESC) AS rank_within_parent
        |FROM agg
        |ORDER BY lochierarchy DESC, n_name NULLS FIRST, p_type NULLS FIRST""".stripMargin),

    // DS q89 shape: per-group monthly sales vs the group's average —
    // the window average is spelled SUM(decimal) OVER / COUNT OVER so
    // both engines produce the identical double before the deviation
    // filter (a float AVG OVER would hash-drift).
    QDef.text("tpcds_q89",
      """WITH m AS (
        |  SELECT p_brand, CAST(month(l_shipdate) AS INT) AS mo,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sales_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(l_shipdate) = 1995
        |  GROUP BY p_brand, month(l_shipdate)),
        |w AS (
        |  SELECT p_brand, mo, CAST(sales_dec AS DOUBLE) AS sales,
        |    CAST(SUM(sales_dec) OVER (PARTITION BY p_brand) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY p_brand) AS avg_monthly
        |  FROM m)
        |SELECT p_brand, mo, sales, avg_monthly
        |FROM w
        |WHERE abs(sales - avg_monthly) / avg_monthly > 0.1
        |ORDER BY p_brand, mo""".stripMargin),

    // DS q93 shape: net sales after subtracting the returns table —
    // here returns are the R-flagged lineitems self-left-joined back
    // on (orderkey, linenumber), so returned rows net to zero.
    QDef.text("tpcds_q93",
      """WITH ret AS (
        |  SELECT l_orderkey AS r_okey, l_linenumber AS r_line,
        |         CAST(l_quantity AS DECIMAL(12,2)) AS ret_qty
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT l_orderkey AS okey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) - COALESCE(ret_qty, 0)) AS DOUBLE) AS net_qty
        |FROM lineitem LEFT JOIN ret ON l_orderkey = r_okey AND l_linenumber = r_line
        |GROUP BY l_orderkey
        |ORDER BY net_qty DESC, okey LIMIT 100""".stripMargin),

    // DS q97 shape: cohort overlap between two periods via FULL OUTER
    // JOIN of distinct key sets + null-pattern counts.
    QDef.text("tpcds_q97",
      """WITH y95 AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1995),
        |y96 AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT CAST(SUM(CASE WHEN y95.k IS NOT NULL AND y96.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_first,
        |  CAST(SUM(CASE WHEN y95.k IS NULL AND y96.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_second,
        |  CAST(SUM(CASE WHEN y95.k IS NOT NULL AND y96.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_years
        |FROM y95 FULL OUTER JOIN y96 ON y95.k = y96.k""".stripMargin),

    // DS q48 shape: one fact scan under a wide disjunction of
    // (segment × quantity band × price band) predicates — the
    // OR-of-ANDs pushes to the scan as a single filter.
    QDef.text("tpcds_q48",
      """SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty, COUNT(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE (c_mktsegment = 'BUILDING' AND l_quantity BETWEEN 1 AND 20 AND l_extendedprice BETWEEN 1000 AND 30000)
        |   OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 10 AND 35 AND l_extendedprice BETWEEN 2000 AND 50000)
        |   OR (c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 25 AND 50 AND l_extendedprice BETWEEN 5000 AND 80000)""".stripMargin),

    QDef.text("tpcds_q67",
      """WITH agg AS (
        |  SELECT n_name, p_brand,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY ROLLUP(n_name, p_brand)),
        |rk AS (
        |  SELECT n_name, p_brand, sales,
        |         RANK() OVER (PARTITION BY n_name ORDER BY sales DESC) AS rnk
        |  FROM agg WHERE n_name IS NOT NULL)
        |SELECT n_name, p_brand, sales, rnk
        |FROM rk WHERE rnk <= 3
        |ORDER BY n_name, rnk, p_brand""".stripMargin)
  )
}
