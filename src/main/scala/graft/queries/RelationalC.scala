package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Surface extensions R41–R47 + F11 (SURVEY §2.1/§2.3): remaining
  * window functions, bitwise/boolean aggregates, UNNEST, LATERAL,
  * DISTINCT ON, series generation, null-handling functions.
  */
object RelationalC {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private def viaSql(s: SparkSession, dir: String, q: String): DataFrame = {
    Catalog.registerAll(s, dir)
    s.sql(q)
  }

  val defs: Seq[QDef] = Seq(

    // R41: distribution window functions.
    QDef.sql("q41_window_misc",
      """SELECT c_custkey, c_mktsegment,
        | NTILE(4) OVER w AS quartile,
        | PERCENT_RANK() OVER w AS pr,
        | CUME_DIST() OVER w AS cd,
        | FIRST_VALUE(c_custkey) OVER w AS first_k,
        | LAST_VALUE(c_custkey) OVER w AS last_k,
        | NTH_VALUE(c_custkey, 2) OVER w AS second_k
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, pr, c_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("c_custkey")).over(w).as("first_k"),
        last(col("c_custkey")).over(w).as("last_k"),
        nth_value(col("c_custkey"), 2).over(w).as("second_k"))
        .orderBy(col("c_mktsegment"), col("pr"), col("c_custkey"))
    },

    // R41b: IGNORE NULLS navigation — LAG / FIRST_VALUE / LAST_VALUE
    // skipping NULL inputs (the reference's WindowBoundariesState
    // ignore_nulls path; SQL:2011 <null treatment>). Same single
    // window pass as the honor-NULLS forms; the sparse `v` column
    // (NULL for ~half the events) makes the skip semantics visible
    // in every partition.
    QDef.sql("q41b_ignore_nulls",
      """SELECT user_id, event_id,
        | LAG(v IGNORE NULLS) OVER w AS prev_v,
        | FIRST_VALUE(v IGNORE NULLS) OVER w AS first_v,
        | LAST_VALUE(v IGNORE NULLS) OVER w AS last_v
        |FROM (SELECT user_id, event_id, ts,
        |        CASE WHEN value > 0.5
        |             THEN CAST(FLOOR(value*100) AS BIGINT) END AS v
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("value") > 0.5, floor(col("value") * 100).cast("long")).as("v"))
        .select(col("user_id"), col("event_id"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"),
          first(col("v"), ignoreNulls = true).over(w).as("first_v"),
          last(col("v"), ignoreNulls = true).over(w).as("last_v"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // R42: boolean/bitwise aggregates + conditional count.
    QDef.sql("q42_agg_bool_bit",
      """SELECT c_mktsegment,
        | bool_and(c_acctbal > 0.0) AS all_positive,
        | bool_or(c_acctbal > 9000.0) AS any_rich,
        | CAST(bit_and(c_nationkey) AS BIGINT) AS band,
        | CAST(bit_or(c_nationkey) AS BIGINT) AS bor,
        | CAST(bit_xor(c_nationkey) AS BIGINT) AS bxor,
        | CAST(SUM(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_over5k
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          bool_and(col("c_acctbal") > 0.0).as("all_positive"),
          bool_or(col("c_acctbal") > 9000.0).as("any_rich"),
          bit_and(col("c_nationkey")).cast("bigint").as("band"),
          bit_or(col("c_nationkey")).cast("bigint").as("bor"),
          bit_xor(col("c_nationkey")).cast("bigint").as("bxor"),
          count_if(col("c_acctbal") > 5000.0).as("n_over5k"))
        .orderBy(col("c_mktsegment"))
    },

    // R43: approximate distinct (HLL) — engine-specific sketches, so
    // no cross-engine oracle; accuracy asserted in ApproxSpec.
    QDef.rowsOnly("q43_approx_distinct") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .orderBy(col("l_returnflag"))
    },

    // R44: UNNEST with ordinality (array → rows).
    QDef.sql("q44_unnest",
      """SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
        | CAST(unnest(embedding) AS DOUBLE) AS val
        |FROM embeddings
        |WHERE vec_id < 20
        |ORDER BY vec_id, pos""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 20)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "val0")))
        .select(col("vec_id"), (col("pos0") + 1).cast("int").as("pos"),
          col("val0").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    },

    // R45: LATERAL correlated subquery (top-2 per outer row).
    {
      val q =
        """SELECT r_name, n_name
          |FROM region, LATERAL (
          |  SELECT n_name FROM nation
          |  WHERE n_regionkey = r_regionkey
          |  ORDER BY n_name LIMIT 2) top_n
          |ORDER BY r_name, n_name""".stripMargin
      QDef.sql("q45_lateral", q)((s, dir) => viaSql(s, dir, q))
    },

    // R46: DISTINCT ON (DuckDB-ism) ≡ row_number()=1 in Spark.
    QDef.sql("q46_distinct_on",
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
        |FROM customer
        |ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("c_acctbal").desc, col("c_custkey"))
    },

    // R47: series generation (table function ≡ sequence+explode).
    {
      val q =
        """SELECT CAST(x AS BIGINT) AS x, CAST(x*x AS BIGINT) AS x2,
          | CAST(x % 2 = 0 AS BOOLEAN) AS even
          |FROM generate_series(1, 20) t(x)
          |ORDER BY x""".stripMargin
      QDef.sql("q47_generate_series", q)((s, _) => s.sql(
        """SELECT CAST(x AS BIGINT) AS x, CAST(x*x AS BIGINT) AS x2,
          | CAST(x % 2 = 0 AS BOOLEAN) AS even
          |FROM (SELECT explode(sequence(1, 20)) AS x)
          |ORDER BY x""".stripMargin))
    },

    // F11: null-handling scalar functions.
    QDef.sql("f11_null_funcs",
      """SELECT o_orderkey,
        | NULLIF(o_orderstatus, 'O') AS status_or_null,
        | COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
        | IFNULL(NULLIF(o_orderpriority, '5-LOW'), 'LOW') AS pri_label,
        | GREATEST(o_totalprice, 100000.0) AS at_least_100k,
        | LEAST(o_totalprice, 100000.0) AS at_most_100k,
        | CAST(NULLIF(o_orderstatus, 'O') IS NULL AS BOOLEAN) AS is_open
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"),
        ifnull(nullif(col("o_orderpriority"), lit("5-LOW")), lit("LOW")).as("pri_label"),
        greatest(col("o_totalprice"), lit(100000.0)).as("at_least_100k"),
        least(col("o_totalprice"), lit(100000.0)).as("at_most_100k"),
        nullif(col("o_orderstatus"), lit("O")).isNull.as("is_open"))
        .orderBy(col("o_orderkey"))
    }
  )
}
