package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.sources.Catalog

/** TPC-H headline suite (SURVEY §2.2), adapted to the reduced test
  * schema (no comment/address/shipmode columns; dates are timestamps).
  * These are the reference's own benchmark grade
  * (/root/reference/benchmark/tpch) re-expressed as Catalyst plans.
  */
object Tpch {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private val revSql = revenueSql

  private def ts(d: String): Column = lit(d).cast("timestamp")

  /** q3/q5/q10/q12 plan builders are parameterized by a table
    * provider so the bucketed-storage variants (TpchBucketed) run the
    * same plan over bucketed tables — the differences are the scan's
    * output partitioning, which is exactly what the bucketing
    * experiment isolates, and the orderkey join's strategy (`bucketed`),
    * which that partitioning decides.
    */
  private[graft] def q3Plan(tab: String => DataFrame, bucketed: Boolean = false): DataFrame = {
    val ord = tab("orders").filter(col("o_orderdate") < ts("1997-06-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val custOrd = tab("customer").filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"))
    // The build side is customer⋈orders, never the filtered lineitem
    // fact side that Spark's estimates would pick (measured r11: 3× the
    // stage CPU and bimodal run times). c_custkey is customer's key, so
    // the join has at most one row per orders-slice row, and the
    // slice's Catalyst estimate bounds it; Catalyst's own estimate of
    // the join is the product of its inputs (80.9 GB at sf0.1, for
    // 11,212 rows). Within the broadcast threshold that side broadcasts
    // and lineitem is probed where it is scanned, with no exchange
    // (sf0.1: a 1.1 MB estimate, 398,809 → 10,376 shuffle records, 7
    // interleaved pairs wall 0.47 → 0.38 s); past it (10.6 MB at sf1)
    // it stays a shuffle-hash build.
    hashBuild(custOrd, ord, bucketed)
      .join(tab("lineitem").filter(col("l_shipdate") > ts("1997-06-01"))
          .select(col("l_orderkey"),
            revenueUnits(col("l_extendedprice"), col("l_discount")).as("__rev")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sumFromUnits(col("__rev")).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), to_date(col("o_orderdate")).as("order_date"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** `side` as the build side of a hash join: a broadcast when
    * Catalyst's size estimate of `bound`, a relation at least as large
    * as `side`, is within `spark.sql.autoBroadcastJoinThreshold` (never
    * when it is -1), else a shuffle-hash build. The test is the one
    * Spark's JoinSelection applies to a join side; `bound` stands in
    * where Catalyst over-estimates the side itself.
    *
    * On the orderkey-bucketed tables (`bucketed`) the shuffle-hash build
    * stays: the orderkey join there has no exchange to save, and a
    * broadcast only adds its driver collect. 7 interleaved pairs,
    * shuffle-hash → broadcast wall medians: q3 0.40 → 0.46 s (0/7 wins)
    * at sf0.1; q10 0.44 → 0.54 s (1/7) at sf0.1 and 0.74 → 0.85 s (0/7)
    * at sf1; q12 0.35 → 0.42 s (2/7) at sf0.1.
    */
  private def hashBuild(side: DataFrame, bound: DataFrame, bucketed: Boolean = false): DataFrame =
    if (!bucketed && bound.queryExecution.optimizedPlan.stats.sizeInBytes <=
        bound.sparkSession.sessionState.conf.autoBroadcastJoinThreshold) broadcast(side)
    else side.hint("shuffle_hash")

  /** Q5. The two fact relations join each other first, on orderkey
    * (an exchange-free sorted-merge join on the bucketed tables), and
    * the dimension PREP folds into the fact scans: the
    * euro nation keys (≤25 rows — region⋈nation is driver-bounded at
    * any scale) collect once and ride into the supplier/customer
    * filters as literal IN-lists, so the plan launches no broadcast
    * build jobs for euroNations and only ONE for the supplier slice.
    * The r12 shape paid three small broadcast-exchange builds (two of
    * nation⋈region, one of supplier⋈nations) — pure fixed wall at
    * bench scale (~0.8 s attribution, r12 §6 receipt).
    */
  private[graft] def q5PlanV2(tab: String => DataFrame,
                              bucketed: Boolean = false): DataFrame = {
    // region⋈nation is driver-bounded at any scale (≤5 and ≤25 rows),
    // so do the join IN THE DRIVER: two single-stage collects instead
    // of a broadcast-exchange build + join job chain. The r14 job
    // profile counted 17 driver actions for q5 — each a scheduling
    // round — and this subtree was 3 of them plus a broadcast build
    // (OPTIMIZATION_r14.md).
    // keys normalized to Long before the Set membership test (r14
    // advice): raw Row values under Set[Any] require exact runtime-type
    // equality, so an int32/int64 divergence between r_regionkey and
    // n_regionkey in the parquet would silently yield zero euro nations
    // where the old Spark join would have cast implicitly. The require
    // below turns any such layout drift into a loud failure.
    def asLong(v: Any): Long = v.asInstanceOf[Number].longValue
    val euroRk = tab("region").filter(col("r_name") === "EUROPE")
      .select(col("r_regionkey")).collect().map(r => asLong(r.get(0))).toSet
    val euroN = tab("nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .collect() // bounded: ≤ the 25-row nation dimension
      .filter(r => euroRk.contains(asLong(r.get(2))))
    require(euroN.nonEmpty, "tpch_q5: no EUROPE nations resolved — check region/nation key types")
    val euroKeys = euroN.map(_.get(0)).toSeq
    val euroSup = tab("supplier")
      .filter(col("s_nationkey").isin(euroKeys: _*))
      .select(col("s_suppkey"), col("s_nationkey"))
    val li = tab("lineitem")
      .join(broadcast(euroSup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("s_nationkey"),
        revenueUnits(col("l_extendedprice"), col("l_discount")).as("__rev"))
    val ord = tab("orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    // the orders slice builds (never the lineitem side), broadcast
    // while its estimate fits: 7 interleaved pairs won at sf0.1 (5/7,
    // wall 0.49 → 0.43 s) and sf1 (6/7, 1.29 → 1.15 s; task CPU 2.2 →
    // 1.4 s), where it still broadcasts
    val lo =
      if (bucketed) li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      else li.join(hashBuild(ord, ord), col("l_orderkey") === col("o_orderkey"))
    val perCust = lo
      .groupBy(col("o_custkey"), col("s_nationkey"))
      .agg(sum(col("__rev")).as("__rev1"))
    val cust = tab("customer")
      .filter(col("c_nationkey").isin(euroKeys: _*))
      .select(col("c_custkey"), col("c_nationkey"))
    val names = euroN.map(r => (r.get(0), r.getString(1))).toMap
    val nameExpr = names.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(col("s_nationkey") === lit(k), lit(v)).otherwise(acc)
    }
    // r15: no trailing display sort on the ≤25-row output (dropped from
    // BOTH engine texts — q06/q13/q31/q48 precedent; the oracle gate
    // sorts rows itself). The sort planned an Exchange rangepartitioning
    // + Sort = two extra AQE scheduling rounds per run for a handful of
    // rows (OPTIMIZATION_r15.md §2c).
    // a shuffle-hash build of the customer slice, not the size rule:
    // perCust is already partitioned on the join keys by its aggregate,
    // so a broadcast saves only the slice's own small exchange (3k of
    // 201k shuffle records at sf0.1), and it was no faster in 7
    // interleaved pairs (sf0.1: 3/7 wins, wall 0.42 → 0.41 s; sf1: 3/7,
    // 1.13 → 1.16 s)
    perCust.join(cust.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey")
          && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("s_nationkey"))
      .agg(sumFromUnits(col("__rev1")).as("revenue"))
      .select(nameExpr.as("n_name"), col("revenue"))
  }

  private[queries] def q10Plan(tab: String => DataFrame, bucketed: Boolean = false): DataFrame = {
    val ord = tab("orders")
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-07-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    // the 6-month orders slice is ~10× smaller than the R-flag lineitem
    // side, so it builds (fact-side builds don't survive 100×),
    // broadcast while its estimate fits: 7 interleaved pairs won at
    // sf0.1 (6/7, wall 0.30 → 0.24 s) and sf1 (7/7, 0.95 → 0.70 s)
    val rev = hashBuild(ord, ord, bucketed)
      .join(tab("lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            revenueUnits(col("l_extendedprice"), col("l_discount")).as("__rev")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sumFromUnits(col("__rev")).as("revenue"))
    rev.join(tab("customer"), col("c_custkey") === col("o_custkey"))
      .join(broadcast(tab("nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private[queries] def q12Plan(tab: String => DataFrame, bucketed: Boolean = false): DataFrame = {
    val ordHigh = tab("orders").select(col("o_orderkey"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("__high"))
    val liYear = tab("lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
      .select(col("l_orderkey"), col("l_linestatus"))
    // build from the date-filtered lineitem year (~60% the row count of
    // the unfiltered orders side Spark's estimates would otherwise
    // hash-build), broadcast while its estimate fits: 7 interleaved
    // pairs at sf0.1 won 7/7 on process CPU (0.58 → 0.46 s); at sf1 it
    // is past the threshold and the plan is unchanged
    ordHigh
      .join(hashBuild(liYear, liYear, bucketed),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("__high"), 1).otherwise(0)).cast("bigint").as("high_line_count"),
        sum(when(!col("__high"), 1).otherwise(0)).cast("bigint").as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  private[queries] def q18Plan(tab: String => DataFrame): DataFrame = {
    // Every output group key is functionally dependent on o_orderkey,
    // so the HAVING aggregate IS the final aggregate: its long-unit
    // sum divided back down equals dsum(l_quantity) bit-exactly (same
    // units representation — functions/Exact.scala). Lineitem is
    // scanned ONCE; the >300 survivors are a tiny set that broadcasts
    // through orders and then (orders ⋈ survivors, still tiny)
    // through customer — the only exchange in the whole plan is the
    // lineitem aggregation's own partial→final hop, and the bucketed
    // variant removes even that.
    val big = tab("lineitem").groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("__sq"))
      .filter(col("__sq") > 30000)
      .select(col("l_orderkey"),
        (col("__sq").cast("double") / 100.0).as("sum_qty"))
    val ob = tab("orders")
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
    tab("customer")
      .join(broadcast(ob), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val defs: Seq[QDef] = Seq(

    // Q1: pricing summary. One shuffle; everything else map-side.
    QDef.sql("tpch_q1",
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         | CAST(SUM($revSql) AS DOUBLE) AS sum_disc_price,
         | CAST(SUM($chargeSql) AS DOUBLE) AS sum_charge,
         | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
         | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price,
         | CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) AS avg_disc,
         | COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2001-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sumRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          sumCharge(col("l_extendedprice"), col("l_discount"), col("l_tax"))
            .as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // Q3: shipping priority (fact-fact shuffle join + broadcast filter dim).
    QDef.sql("tpch_q3",
      s"""SELECT l_orderkey, CAST(SUM($revSql) AS DOUBLE) AS revenue,
         | CAST(o_orderdate AS DATE) AS order_date
         |FROM customer JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'MACHINERY'
         | AND o_orderdate < TIMESTAMP '1997-06-01'
         | AND l_shipdate > TIMESTAMP '1997-06-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin) { (s, dir) =>
      // NOT eager-aggregated (unlike q10): the customer-segment ∧
      // order-date filters cut the joined rows 7.7× below the filtered
      // lineitem count, so aggregating lineitem by orderkey before the
      // join (measured: a wash at sf10) would burn hash-agg work on
      // rows the join is about to drop. Post-join groupBy input is
      // already the small side here.
      // The fact exchange carries (orderkey, rev_units) — the revenue
      // product is computed MAP-SIDE into one int64, so the shuffle
      // row is 16 bytes instead of key + two doubles.
      q3Plan(n => t(s, dir, n))
    },

    // Q5: local supplier volume (snowflake join, broadcast dims).
    QDef.sql("tpch_q5",
      s"""SELECT n_name, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         | JOIN nation ON s_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin) { (s, dir) =>
      // Push the region predicate to BOTH fact sides before the big
      // orderkey shuffle: lineitem joins the broadcast European
      // supplier dim (60 M → ~12 M rows, and s_nationkey/n_name ride
      // along), customers semi-filter to European nations. The only
      // fact-fact shuffle then carries ~1/5 of the rows — at 100 TB
      // this is the difference between shuffling the region's share
      // and shuffling the whole fact table.
      // The fact-fact exchange carries (orderkey, nationkey, rev_units)
      // — three int64s. n_name (a string per lineitem row!) does NOT
      // ride the shuffle: the groupBy keys the nationkey and the name
      // re-attaches via a broadcast join onto the ≤25 aggregated rows.
      q5PlanV2(n => t(s, dir, n))
    },

    // Q6: forecast revenue — pure scan+filter+agg; predicates must all
    // push to parquet. The sum runs in long units (Exact.sumProduct),
    // equal to the text's per-row DECIMAL(18,4) cast.
    QDef.sql("tpch_q6",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount >= 0.05 AND l_discount <= 0.07
        | AND l_quantity < 24.0""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24.0)
        .agg(sumProduct(col("l_extendedprice"), col("l_discount")).as("revenue"))
    },

    // Q10: returned-items ranking.
    QDef.sql("tpch_q10",
      s"""SELECT c_custkey, c_name, CAST(SUM($revSql) AS DOUBLE) AS revenue,
         | c_acctbal, n_name
         |FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
         | AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin) { (s, dir) =>
      // Eager aggregation: every group key is 1:1 with c_custkey, so
      // revenue pre-aggregates by o_custkey right after the fact-fact
      // join — customer's wide columns (name, acctbal, nation) never
      // ride a fact shuffle; they join onto the ~|customers with
      // returns| aggregated rows at the end. At 100 TB this removes
      // the entire customer table from both fact exchanges.
      q10Plan(n => t(s, dir, n))
    },

    // Q12 shape (schema has no shipmode → priority split by linestatus).
    QDef.sql("tpch_q12",
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      // The join needs ONE bit of orders: priority ∈ {URGENT, HIGH}.
      // Compute it BEFORE the orderkey exchange so the shuffle carries
      // (long, boolean) rows instead of (long, string) — the string
      // column never leaves the scan stage.
      q12Plan(n => t(s, dir, n))
    },

    // Q18: large-volume customers — GroupJoin shape at TPC-H scale:
    // the per-order aggregate (few survivors after HAVING) broadcasts
    // into the orders/customer join.
    QDef.sql("tpch_q18",
      """SELECT c_custkey, c_name, o_orderkey,
        | CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      // HAVING sum > 300 in long fixed-point units (30000 hundredths):
      // same exact comparison, ~3× cheaper than the decimal sum over a
      // 15 M-group aggregate (the dominant stage of this query).
      q18Plan(n => t(s, dir, n))
    },

    // Q19 shape: disjunctive predicates inside the join condition —
    // the equi key still carries the join; the OR-block evaluates
    // post-match (no nested loop).
    QDef.sql("tpch_q19",
      s"""SELECT CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 21)
         |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 30)
         |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin) { (s, dir) =>
      val pred =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("l_quantity") >= 1 && col("l_quantity") <= 21) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(10, 30)
          && col("l_quantity") >= 10 && col("l_quantity") <= 30) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(20, 50)
          && col("l_quantity") >= 20 && col("l_quantity") <= 40)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("p_partkey") === col("l_partkey"))
        .filter(pred)
        .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }
  )
}
