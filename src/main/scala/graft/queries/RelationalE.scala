package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.sources.Catalog

/** Round-2 relational breadth: real sampling methods (reservoir /
  * bernoulli — the reference's TABLESAMPLE surface) and dynamic PIVOT
  * (distinct-value discovery, not a hard-coded value list).
  */
object RelationalE {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** First 4 hex chars of an md5 string column as a 16-bit integer, in
    * DuckDB-1.0 SQL (no hex→int builtin there; the p02 mixture-sample
    * oracle established this ascii-arithmetic form).
    */
  private def u16Sql(h: String): String =
    s"(ascii(substr($h,1,1)) - CASE WHEN substr($h,1,1) >= 'a' THEN 87 ELSE 48 END) * 4096" +
    s" + (ascii(substr($h,2,1)) - CASE WHEN substr($h,2,1) >= 'a' THEN 87 ELSE 48 END) * 256" +
    s" + (ascii(substr($h,3,1)) - CASE WHEN substr($h,3,1) >= 'a' THEN 87 ELSE 48 END) * 16" +
    s" + (ascii(substr($h,4,1)) - CASE WHEN substr($h,4,1) >= 'a' THEN 87 ELSE 48 END)"

  val defs: Seq[QDef] = Seq(

    // R34b: reservoir sampling — fixed-size uniform sample as
    // distributed bottom-k over a seeded draw (no global sort). The
    // oracle checks the fixed-size contract exactly; distribution
    // properties are asserted in SamplingSpec.
    QDef.sql("q34b_reservoir_sample",
      "SELECT CAST(500 AS BIGINT) AS n") { (s, dir) =>
      Sampling.reservoir(t(s, dir, "lineitem"), n = 500, seed = 42L)
        .agg(count(lit(1)).as("n"))
    },

    // R34c: bernoulli (streaming) sampling — a pure scan-side filter.
    // r13 upgrade: the entry's draw is the KEY-DETERMINISTIC
    // md5-threshold accept (Sampling.bernoulliByKey) — same keep-set
    // on every run/engine, so the oracle replays the exact sample in
    // DuckDB (p02 precedent). The reference's RNG TABLESAMPLE surface
    // stays covered by Sampling.bernoulli + SamplingSpec bounds.
    QDef.sql("q34c_bernoulli_sample",
      s"""WITH d AS (
         |  SELECT o_totalprice,
         |    md5('bern:' || CAST(o_orderkey AS VARCHAR)) AS h
         |  FROM orders),
         |u AS (SELECT o_totalprice, ${u16Sql("h")} AS u16 FROM d)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM u WHERE u16 < 6553""".stripMargin) { (s, dir) =>
      Sampling.bernoulliByKey(t(s, dir, "orders"), col("o_orderkey"), p = 0.1)
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"))
    },

    // R34d: stratified sampling — per-stratum rates (the
    // training-data-mixture primitive). r13 upgrade: key-deterministic
    // md5-threshold rates per stratum, oracle-replayed per stratum.
    QDef.sql("q34d_stratified_sample",
      s"""WITH d AS (
         |  SELECT o_orderpriority,
         |    md5('strat:' || CAST(o_orderkey AS VARCHAR)) AS h,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0
         |         WHEN o_orderpriority = '2-HIGH' THEN 0.5
         |         WHEN o_orderpriority = '3-MEDIUM' THEN 0.1
         |         ELSE 0.0 END AS rate
         |  FROM orders),
         |u AS (SELECT o_orderpriority, rate, ${u16Sql("h")} AS u16 FROM d)
         |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         |FROM u WHERE u16 < FLOOR(rate * 65536.0)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Sampling.stratifiedByKey(t(s, dir, "orders"), col("o_orderkey"),
          col("o_orderpriority"),
          Map("1-URGENT" -> 1.0, "2-HIGH" -> 0.5, "3-MEDIUM" -> 0.1))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // R26b: dynamic PIVOT — pivot values DISCOVERED from the data
    // (Spark runs the distinct-value job; DuckDB's PIVOT does the
    // same), not a hard-coded list like q26. The measure is cast to
    // DOUBLE *before* the pivot: SUM over a pivoted decimal widens
    // differently per engine (Spark → DECIMAL(28,2), DuckDB →
    // DECIMAL(38,2)) and the widened cells hash-differ; l_quantity is
    // integral so the double sum is exact regardless of add order.
    QDef.text("q26b_dynamic_pivot",
      """SELECT * FROM (
        |  PIVOT (SELECT l_linestatus, l_returnflag, CAST(l_quantity AS DOUBLE) AS q FROM lineitem)
        |  ON l_returnflag USING SUM(q) GROUP BY l_linestatus)
        |ORDER BY l_linestatus""".stripMargin),

    // R54: case-insensitive COLLATE in a filter (the reference's
    // collation_binding surface — /root/reference/src/planner/
    // collation_binding.cpp). Spark 4 ships real collation support:
    // UTF8_LCASE compares case-insensitively inside codegen, no
    // lower() rewrite. A mixed-case segment column is derived so the
    // comparison is actually exercised; DuckDB's NOCASE is the oracle.
    QDef.text("q54_collation_filter",
      """SELECT c_custkey, seg FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg
        |  FROM customer)
        |WHERE seg COLLATE NOCASE = 'bUiLdInG'
        |ORDER BY c_custkey LIMIT 50""".stripMargin),

    // R54b: case-insensitive COLLATE in ORDER BY — equal-under-collation
    // strings ('Automobile' vs 'AUTOMOBILE') are real ties, broken by a
    // deterministic secondary key so both engines emit identical order.
    QDef.text("q54b_collation_order",
      """SELECT c_custkey, seg FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg
        |  FROM customer)
        |ORDER BY seg COLLATE NOCASE, c_custkey LIMIT 50""".stripMargin),

    // R55: approximate quantiles (the reference's approx_quantile
    // t-digest — /root/reference/src/core_functions/aggregate/holistic/
    // approx_quantile.cpp). Spark's GK sketch and DuckDB's t-digest
    // give different approximations by design → rows-only entry; the
    // |approx − exact| ≤ 1% relative bound is asserted in SamplingSpec.
    // This is the 100 TB path for percentiles: mergeable fixed-size
    // sketches, one narrow shuffle of sketch state, never a global sort.
    QDef.rowsOnly("q38b_approx_quantile") { (s, dir) =>
      t(s, dir, "orders")
        .agg(
          expr("approx_percentile(o_totalprice, 0.25, 10000)").as("q25"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("q50"),
          expr("approx_percentile(o_totalprice, 0.75, 10000)").as("q75"),
          expr("approx_percentile(o_totalprice, 0.99, 10000)").as("q99"))
    }
  )
}
