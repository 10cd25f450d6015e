package graft.queries

import graft.sources.Catalog

/** Function-surface extensions F15–F17: remaining string utilities,
  * list/array utilities, and formatted output — rounding out the
  * DuckDB scalar-function coverage.
  */
object FunctionsQ2 {
  val defs: Seq[QDef] = Seq(

    QDef.text("f15_string_more",
      """SELECT p_partkey,
        | repeat(p_brand, 2) AS doubled,
        | translate(p_type, 'AEIOU', 'aeiou') AS lowered_vowels,
        | left(p_name, 4) AS l4,
        | right(p_name, 4) AS r4,
        | CAST(contains(p_name, 'widget') AS BOOLEAN) AS has_widget,
        | CAST(starts_with(p_name, 'cold') AS BOOLEAN) AS is_cold,
        | CAST(ends_with(p_name, 'bolt') AS BOOLEAN) AS is_bolt,
        | CAST(ascii(p_brand) AS INT) AS first_code,
        | chr(65 + CAST(p_size % 26 AS INT)) AS size_letter,
        | CAST(strpos(p_name, 'o') AS INT) AS first_o
        |FROM part ORDER BY p_partkey""".stripMargin),

    QDef.text("f16_list_more",
      """SELECT vec_id,
        | CAST(list_contains(list_transform(embedding, x -> x > 0), true) AS BOOLEAN) AS any_pos,
        | CAST(embedding[5] AS DOUBLE) AS fifth,
        | CAST(len(embedding[1:8]) AS INT) AS head8_len,
        | CAST(list_transform(list_reverse(embedding), x -> CAST(x AS DOUBLE))[1] AS DOUBLE) AS last_elem,
        | CAST(list_position(list_transform(embedding, x -> x > 0), true) AS INT) AS first_pos_idx
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin),

    QDef.text("f17_format",
      """SELECT o_orderkey,
        | printf('%d:%s', o_orderkey, o_orderstatus) AS tagged,
        | CAST(format('{:.2f}', ROUND(o_totalprice, 2)) AS VARCHAR) AS price_2dp,
        | lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_key
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F18: list transform utilities (sort/distinct/flatten) — results
    // canonicalized through list_sort AND serialized to delimited
    // strings on both engines: the driver's compare harness cannot
    // sort rows containing array cells (pandas lexsort chokes on
    // ndarray), so the list outputs are array_join'ed. The list ops
    // themselves still run; only the final cell type is scalar.
    QDef.text("f18_list_transform",
      """SELECT p_partkey,
        | array_to_string(list_sort(string_split(p_name, ' ')), ' ') AS toks,
        | array_to_string(list_sort(list_distinct(string_split(p_type, ' '))), ' ') AS type_toks,
        | array_to_string(flatten([string_split(p_brand, '#'), string_split(p_type, ' ')]), ' ') AS flat
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F19: bit manipulation (popcount, shifts, and/or/xor).
    QDef.text("f19_bit_ops",
      """SELECT p_partkey,
        | CAST(bit_count(CAST(p_size AS BIGINT)) AS INT) AS pop,
        | CAST(p_size << 2 AS BIGINT) AS shl,
        | CAST(p_size >> 1 AS BIGINT) AS shr,
        | CAST(p_size & 15 AS BIGINT) AS and_v,
        | CAST(p_size | 64 AS BIGINT) AS or_v,
        | CAST(xor(CAST(p_size AS BIGINT), 21) AS BIGINT) AS xor_v
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F20: CREATE MACRO (the reference's scalar macro surface,
    // src/parser/parsed_data/create_macro_info.cpp) — Spark 4's SQL
    // UDFs (CREATE FUNCTION ... RETURN <expr>) are the analog: named,
    // inlined-at-plan-time SQL expressions. The oracle DEFINES real
    // DuckDB macros and calls them; the Spark side defines SQL UDFs
    // with the same bodies — both engines expand to the same
    // expression tree over part. Macro outputs are integers/strings
    // (cross-engine exact); one macro calls the other (composition).
    QDef.sql("f20_macro",
      """CREATE OR REPLACE MACRO price_band(p) AS CAST(FLOOR(p / 10) AS BIGINT);
        |CREATE OR REPLACE MACRO banded_label(p, pfx) AS pfx || '_' || CAST(price_band(p) AS VARCHAR);
        |SELECT price_band(p_retailprice) AS band,
        |  COUNT(*) AS n,
        |  MIN(banded_label(p_retailprice, p_brand)) AS min_label
        |FROM part GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      Catalog.registerAll(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) " +
        "RETURNS BIGINT RETURN CAST(FLOOR(p / 10) AS BIGINT)")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION banded_label(p DOUBLE, pfx STRING) " +
        "RETURNS STRING RETURN concat(pfx, '_', CAST(price_band(p) AS STRING))")
      s.sql(
        """SELECT price_band(p_retailprice) AS band,
          |  COUNT(*) AS n,
          |  MIN(banded_label(p_retailprice, p_brand)) AS min_label
          |FROM part GROUP BY band ORDER BY band""".stripMargin)
    },

    // F21: star modifiers — SELECT * EXCLUDE/EXCEPT (drop columns in
    // the projection, reference: star_expression.cpp's exclude_list);
    // the remaining columns keep table order.
    QDef.text("f21_star_exclude",
      """SELECT * EXCLUDE (n_comment_like) FROM (
        |  SELECT n_nationkey, n_name, n_regionkey,
        |         n_name || '!' AS n_comment_like
        |  FROM nation) ORDER BY n_nationkey""".stripMargin),

    // F22: GROUP BY ALL + ORDER BY ALL — the convenience grouping the
    // reference popularized (bind_select_node's ALL expansion):
    // non-aggregated select items become the grouping keys.
    QDef.text("f22_group_by_all",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin),

    // F24: interpolated quantiles — quantile_cont ≡ Spark percentile
    // (both: linear interpolation at rank p·(n-1) over the sorted
    // group). Identical inputs → identical IEEE interpolation. Scalar
    // columns (not an array) because the oracle harness hashes cell
    // values — one scalar per quantile keeps every cell hashable.
    QDef.text("f24_quantiles",
      """SELECT o_orderstatus,
        | quantile_cont(o_totalprice, 0.25) AS q25,
        | quantile_cont(o_totalprice, 0.5)  AS q50,
        | quantile_cont(o_totalprice, 0.75) AS q75,
        | CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS med_disc
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // F23: time_bucket — fixed-width tumbling buckets. Spark's native
    // window(ts, width) aligns to the epoch; DuckDB's time_bucket
    // aligns sub-month widths to 2000-01-03, which lands on the same
    // grid for widths dividing 86400 s (946857600 % width == 0 for
    // 15-minute buckets) — the alignment identity the oracle relies
    // on. The bucket aggregation itself is the st01 shape at finer
    // grain.
    QDef.text("f23_time_bucket",
      """SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY bucket_start ORDER BY bucket_start""".stripMargin)
  )
}
