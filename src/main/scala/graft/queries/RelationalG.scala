package graft.queries

/** Relational long tail G: DISTINCT aggregates over window
  * partitions (reference window segment tree handles DISTINCT
  * natively — src/execution/window_segment_tree.cpp) and time-series
  * gap filling (generate_series grid + IGNORE NULLS forward fill),
  * the canonical DuckDB time-series recipe.
  */
object RelationalG {
  val defs: Seq[QDef] = Seq(

    // R62: COUNT(DISTINCT) / SUM(DISTINCT) over a window partition.
    // Spark's window engine rejects DISTINCT aggregates, so the front
    // door rewrites them to collect_set over the partition. Scale note:
    // the partition is one customer's orders (bounded); the state is
    // a per-partition set, same asymptotics as DuckDB's segment tree.
    QDef.text("q61_window_distinct",
      """SELECT o_orderkey,
        |  count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey) AS n_prio,
        |  count(DISTINCT o_orderstatus)   OVER (PARTITION BY o_custkey) AS n_stat,
        |  CAST(sum(DISTINCT CAST(FLOOR(o_totalprice) AS BIGINT)) OVER (PARTITION BY o_custkey) AS BIGINT) AS sd_price
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // R63: time-series gap fill — per-user daily activity grid from
    // min to max day (generate_series ≡ Spark sequence), missing days
    // forward-filled with the last observed count (IGNORE NULLS
    // running last_value). The metric is an exact integer count, so
    // no float summation order can drift. Scale note: the grid
    // explodes per key and joins co-partitioned on (user_id, d); the
    // fill is one window pass per key — no global sort.
    QDef.text("q62_gapfill",
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spans)
        |SELECT g.user_id, g.d,
        |  last_value(daily.c IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  daily.c IS NOT NULL AS observed
        |FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
        |ORDER BY g.user_id, g.d""".stripMargin),

    // R64: locale-aware ICU collation beyond NOCASE (reference
    // bundles extension/icu/ — COLLATE "de"). Both engines delegate
    // to ICU's German tailoring, so the TOP-N set under the collated
    // order is engine-independent; accented strings are manufactured
    // by translate (ä/é/ö sort with their base letters under "de",
    // far from their binary code points). The LIMIT makes collation
    // semantics decide the result SET — the driver's sorted-hash
    // compare would not see order alone. Tiebreak on p_partkey keeps
    // the cut deterministic.
    QDef.text("q63_icu_collation",
      """SELECT p_partkey, translate(p_name, 'aeo', 'äéö') AS t
        |FROM part
        |ORDER BY translate(p_name, 'aeo', 'äéö') COLLATE "de", p_partkey
        |LIMIT 120""".stripMargin),

    // R64 locale matrix (both engines delegate to ICU, so each
    // locale's tailoring decides the LIMIT set; orderings were
    // cross-checked against the oracle's ICU build for all three):
    // Turkish — dotless ı collates BEFORE i (and far from its U+0131
    // code point, which binary order puts after all ASCII).
    QDef.text("q63b_icu_tr",
      """SELECT p_partkey, translate(p_name, 'i', 'ı') AS t
        |FROM part
        |ORDER BY translate(p_name, 'i', 'ı') COLLATE "tr", p_partkey
        |LIMIT 120""".stripMargin),

    // Swedish — å/ö are distinct letters AFTER z (under "de" they
    // collate with a/o, so the locale itself changes the cut).
    QDef.text("q63c_icu_sv",
      """SELECT p_partkey, translate(p_name, 'ao', 'åö') AS t
        |FROM part
        |ORDER BY translate(p_name, 'ao', 'åö') COLLATE "sv", p_partkey
        |LIMIT 120""".stripMargin),

    // Chinese — pinyin ordering (大 dà < 国 guó < 人 rén < 文 wén <
    // 中 zhōng), which disagrees with code-point order (中 U+4E2D <
    // 人 < 大 < 国 < 文) on this very alphabet, so a binary-collating
    // engine would pick a different LIMIT set.
    QDef.text("q63d_icu_zh",
      """SELECT p_partkey, translate(p_name, 'aeiou', '中文国人大') AS t
        |FROM part
        |ORDER BY translate(p_name, 'aeiou', '中文国人大') COLLATE "zh", p_partkey
        |LIMIT 120""".stripMargin),

    // R66: LIMIT x PERCENT (the reference's percent-limit modifier,
    // parser/transform/statement — floor(n·pct/100) rows, measured
    // against the engine: 10 rows LIMIT 25% → 2, 15 rows LIMIT 33% →
    // 4). The UNIQUE sort order makes the cut deterministic on both
    // engines.
    QDef.text("q65_limit_percent",
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1%""".stripMargin),

    // R65: EXACT quantile as a WINDOW function — the reference's
    // holistic aggregates run over window frames natively (quantile
    // .cpp via WindowAggregator); Spark allows any aggregate in a
    // window, so percentile() runs per frame. Interpolation is the
    // f24-proven bit-identical (a+b)/2 path. Frames are pinned by a
    // UNIQUE order (date, orderkey) — a ROWS frame over tied sort
    // keys would make frame membership engine-dependent. Rolling
    // median per frame is O(frame) — fine for bounded frames; the
    // unbounded-partition variant is the per-group q38 median.
    QDef.text("q64_window_quantile",
      """SELECT o_orderkey, o_custkey, amt,
        |  quantile_cont(amt, 0.5) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll_med,
        |  quantile_cont(amt, 0.5) OVER (PARTITION BY o_custkey) AS part_med
        |FROM (SELECT o_orderkey, o_custkey, o_orderdate, CAST(o_totalprice AS DOUBLE) AS amt FROM orders)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R67: GROUPING() bitmask over CUBE — the standard way to tell a
    // subtotal row's NULL from a data NULL (reference:
    // GROUPING/GROUPING_ID bound in the aggregate binder). The flags
    // also pin the sort so subtotal rows land deterministically.
    QDef.text("q66_grouping_fn",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // R68: recursive UNNEST of nested lists (reference
    // unnest(recursive := true)) ≡ Spark explode(flatten(...)) — one
    // level of structure collapses per flatten; the oracle spells the
    // reference's native recursive form over the same synthesized
    // nesting.
    QDef.text("q67_unnest_recursive",
      """SELECT p_partkey, u FROM (
        |  SELECT p_partkey,
        |    unnest([[p_partkey % 7, p_partkey % 5], [p_partkey % 3]],
        |           recursive := true) AS u
        |  FROM part)
        |ORDER BY p_partkey, u""".stripMargin),

    // R69: the reference's ASOF JOIN *statement* syntax
    // (transform_join.cpp:54) runs VERBATIM on both engines — the
    // dialect marks the join and plans/AsofJoinRule plans it as the
    // q31 union+window plan (operators/Joins.asofJoin). Backward `>=`:
    // latest order at-or-before each event. Payload is the matched
    // row's o_orderdate only — (o_custkey, o_orderdate) can tie, and
    // the DATE of the match is deterministic where the full row
    // isn't.
    QDef.text("q68_asof_statement",
      """SELECT event_id, user_id, CAST(o_orderdate AS DATE) AS last_od
        |FROM events e ASOF JOIN orders ON e.user_id = o_custkey AND e.ts >= o_orderdate
        |ORDER BY event_id""".stripMargin),

    // R70: ASOF LEFT JOIN, forward `<=` — earliest event at-or-after
    // each order date; orders whose customer has no events keep NULL
    // payloads (LEFT). (user_id, ts) is unique in the testdata, so
    // the matched event is deterministic.
    QDef.text("q69_asof_left_statement",
      """SELECT o_orderkey, event_id, ts
        |FROM orders ASOF LEFT JOIN events e ON o_custkey = e.user_id AND o_orderdate <= e.ts
        |ORDER BY o_orderkey""".stripMargin)
  )
}
