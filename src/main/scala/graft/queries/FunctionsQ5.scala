package graft.queries

/** Scalar-function surface F45–F48: list distance metrics, the map
  * long tail, tagged UNION types, and interval/age arithmetic — the
  * last uncovered families under the reference's
  * src/core_functions/scalar/{list,map,union,date}.
  *
  * Float discipline for f45: DuckDB's native list_distance /
  * list_cosine_similarity (list_distance.cpp) accumulate in FLOAT32,
  * which no double-side spelling can reproduce, so BOTH engines spell
  * the identical sequential double fold — Spark
  * `aggregate(arr, 0.0, (acc, x) => acc + x)` ≡ DuckDB
  * `list_reduce(list_prepend(0.0, arr), (a, b) -> a + b)` — giving
  * bit-identical doubles with no grid snapping (sqrt and division are
  * IEEE exact-rounded).
  */
object FunctionsQ5 {
  val defs: Seq[QDef] = Seq(

    // F45: list_distance / list_inner_product / list_cosine_similarity
    // (scalar/list/list_distance.cpp) over consecutive embedding pairs.
    // Pairing is a shuffle join on vec_id+1 (no single-partition
    // window); at 100 TB the pair source would be any co-partitioned
    // key join — the distance kernels themselves are per-row map work.
    QDef.text("f45_list_distance",
      """WITH p AS (
        |  SELECT a.vec_id,
        |         list_transform(a.embedding, x -> CAST(x AS DOUBLE)) AS e1,
        |         list_transform(b.embedding, x -> CAST(x AS DOUBLE)) AS e2
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
        |SELECT vec_id,
        |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |       list_transform(list_zip(e1, e2), x -> (x[1]-x[2])*(x[1]-x[2]))), (a,b) -> a+b)) AS l2,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |       list_transform(list_zip(e1, e2), x -> x[1]*x[2])), (a,b) -> a+b) AS ip,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |       list_transform(list_zip(e1, e2), x -> x[1]*x[2])), (a,b) -> a+b)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(e1, x -> x*x)), (a,b) -> a+b))
        |       * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(e2, x -> x*x)), (a,b) -> a+b))) AS cs
        |FROM p ORDER BY vec_id""".stripMargin),

    // F46: map long tail — map_concat, map_entries, map_from_entries,
    // key membership, cardinality (scalar/map/*.cpp), plus
    // struct_insert (scalar/struct/struct_insert.cpp).
    // Map cells can't ride the driver's hash gate (the f24 lesson), so
    // every map renders as a sorted "k=v" join — identical bytes both
    // engines. map_contains doesn't exist in DuckDB 1.0.0, so
    // membership is spelled list_contains(map_keys(m), k) there.
    QDef.text("f46_map_extended",
      """SELECT p_partkey,
        |  array_to_string(list_sort(list_transform(map_entries(
        |    map_concat(MAP{'brand': p_brand, 'type': p_type}, MAP{'size': CAST(p_size AS VARCHAR)})),
        |    e -> e.key || '=' || e.value)), ',') AS concat_r,
        |  array_to_string(list_sort(list_transform(map_entries(
        |    MAP{'brand': p_brand, 'type': p_type}), e -> e.key || '=' || e.value)), ',') AS entries_r,
        |  map_from_entries([{'key': 'nm', 'value': p_name}])['nm'][1] AS from_entries_v,
        |  list_contains(map_keys(MAP{'brand': p_brand, 'type': p_type}), 'brand') AS has_brand,
        |  list_contains(map_keys(MAP{'brand': p_brand, 'type': p_type}), 'color') AS has_color,
        |  cardinality(map_concat(MAP{'brand': p_brand, 'type': p_type},
        |                         MAP{'size': CAST(p_size AS VARCHAR)})) AS card,
        |  struct_insert({'pk': p_partkey}, sz := p_size).sz AS ins_sz
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F47: tagged UNION type (scalar/union/union_{value,tag,extract}
    // .cpp). Spark has no native union type; the standard encoding is
    // a struct of one active nullable field per member plus the tag —
    // exactly DuckDB's own physical layout for UNION. The oracle uses
    // the genuine DuckDB union functions; extraction of the inactive
    // member yields NULL on both sides.
    QDef.text("f47_union_type",
      """SELECT event_id, union_tag(u) AS tag,
        |       CAST(union_extract(u, 'num') AS DOUBLE) AS num,
        |       union_extract(u, 'txt') AS txt
        |FROM (SELECT event_id,
        |        CASE WHEN event_type = 'click'
        |             THEN CAST(union_value(num := value) AS UNION(num DOUBLE, txt VARCHAR))
        |             ELSE CAST(union_value(txt := event_type) AS UNION(num DOUBLE, txt VARCHAR)) END AS u
        |      FROM events)
        |ORDER BY event_id""".stripMargin),

    // F48: interval arithmetic + age() (scalar/date/{age,to_interval,
    // date_diff}.cpp). age(L, E) decomposes fieldwise with a single
    // borrow: if day < 0, borrow days_in_month(E); if month < 0,
    // borrow 12 — rule reverse-engineered against DuckDB on 9 borrow
    // cases (2024-03-01/2023-01-31 → 1y 1m 1d, leap Feb included).
    // Month addition clamps to month end identically in both engines
    // (2024-01-31 + 1 MONTH = 2024-02-29 ≡ Spark add_months). All
    // integer arithmetic — no floats anywhere.
    QDef.text("f48_age_interval",
      """WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders),
        |a AS (SELECT o_orderkey, od, age(DATE '2025-06-15', od) AS ag FROM d)
        |SELECT o_orderkey,
        |  CAST(date_part('year', ag) AS BIGINT) AS age_y,
        |  CAST(date_part('month', ag) AS BIGINT) AS age_m,
        |  CAST(date_part('day', ag) AS BIGINT) AS age_d,
        |  CAST(od + INTERVAL 1 MONTH AS DATE) AS plus1m,
        |  CAST(od + INTERVAL 45 DAY AS DATE) AS plus45d,
        |  CAST(date_diff('month', od, DATE '2025-06-15') AS BIGINT) AS mdiff,
        |  CAST(date_diff('day', od, DATE '2025-06-15') AS BIGINT) AS ddiff
        |FROM a ORDER BY o_orderkey""".stripMargin)
  )
}
