package graft.queries

/** Scalar-function surface F1–F10 (SURVEY §2.3): the DuckDB function
  * library through the front door onto Spark's codegen'd builtins. All
  * stay inside whole-stage codegen (no UDFs anywhere).
  *
  * Cross-engine semantics notes baked in below:
  *  - DuckDB regexp_replace is first-match unless flagged 'g'; Spark is
  *    global → the text carries the 'g' flag.
  *  - DuckDB CAST(double AS INT) rounds, Spark truncates → go through
  *    FLOOR explicitly.
  *  - dayofweek is 0 on a Sunday (DuckDB's numbering, which the front
  *    door keeps); the text adds 1.
  */
object FunctionsQ {
  val defs: Seq[QDef] = Seq(

    QDef.text("f01_string_funcs",
      """SELECT p_partkey,
        | upper(p_name) AS up_name,
        | lower(p_brand) AS lo_brand,
        | substr(p_name, 1, 6) AS pre6,
        | concat(p_brand, ':', p_type) AS brand_type,
        | replace(p_type, 'A', '@') AS repl,
        | CAST(length(p_name) AS INT) AS name_len,
        | lpad(p_brand, 12, '*') AS padded,
        | reverse(p_type) AS rev,
        | trim(concat(' ', p_type, ' ')) AS trimmed
        |FROM part ORDER BY p_partkey""".stripMargin),

    QDef.text("f02_regex_funcs",
      """SELECT doc_id,
        | regexp_extract(text, '[a-z]+') AS first_word,
        | CAST(len(regexp_extract_all(text, 'scan')) AS BIGINT) AS n_scan,
        | substr(regexp_replace(text, 'a', '@', 'g'), 1, 40) AS replaced,
        | CASE WHEN regexp_matches(text, 'join.*merge') THEN 1 ELSE 0 END AS has_seq
        |FROM documents ORDER BY doc_id""".stripMargin),

    QDef.text("f03_date_funcs",
      """SELECT o_orderkey,
        | CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        | CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
        | CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dy,
        | CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS due_date,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    QDef.text("f04_math_funcs",
      """SELECT p_partkey,
        | abs(p_size - 25) AS dist25,
        | CAST(ceil(p_retailprice / 7.0) AS BIGINT) AS ceil7,
        | CAST(floor(p_retailprice / 7.0) AS BIGINT) AS floor7,
        | sqrt(CAST(p_size AS DOUBLE)) AS sq,
        | pow(CAST(p_size AS DOUBLE), 2.0) AS sz2,
        | CAST(p_size % 7 AS INT) AS md,
        | CAST(sign(p_size - 25) AS DOUBLE) AS sgn,
        | round(p_retailprice / 3.0, 2) AS r2
        |FROM part ORDER BY p_partkey""".stripMargin),

    QDef.text("f05_hash_funcs",
      """SELECT p_partkey,
        | md5(p_name) AS h_md5,
        | sha256(p_name) AS h_sha256,
        | substr(md5(concat(p_brand, p_type)), 1, 8) AS h_short
        |FROM part ORDER BY p_partkey""".stripMargin),

    QDef.text("f06_list_funcs",
      """SELECT vec_id,
        | CAST(len(embedding) AS INT) AS dim,
        | CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE) AS head3,
        | CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        | CAST(embedding[1] AS DOUBLE) * 2.0 AS first_scaled
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    QDef.text("f07_struct_funcs",
      """SELECT c_custkey,
        | struct_pack(k := c_custkey, b := c_acctbal).b AS bal_via_struct,
        | struct_pack(k := c_custkey, b := c_acctbal).k AS key_via_struct,
        | {'seg': c_mktsegment, 'nk': c_nationkey}.seg AS seg_via_struct
        |FROM customer ORDER BY c_custkey""".stripMargin),

    QDef.text("f08_casts",
      """SELECT c_custkey,
        | CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_floor,
        | CAST(c_custkey AS VARCHAR) AS key_str,
        | TRY_CAST(CAST(c_custkey AS VARCHAR) AS BIGINT) AS key_back,
        | TRY_CAST(c_name AS DOUBLE) AS bad_cast,
        | CAST(c_nationkey AS DOUBLE) AS nk_dbl
        |FROM customer ORDER BY c_custkey""".stripMargin),

    QDef.text("f09_levenshtein",
      """SELECT p_partkey,
        | CAST(levenshtein(p_brand, 'Brand#25') AS INT) AS d_brand,
        | CAST(levenshtein(p_type, 'PROMO') AS INT) AS d_type
        |FROM part ORDER BY p_partkey""".stripMargin),

    QDef.text("f10_json_funcs",
      """SELECT event_id,
        | TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        | CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 'hi' ELSE 'lo' END AS k_band
        |FROM events ORDER BY event_id""".stripMargin)
  )
}
