package graft.queries

/** ClickBench-shape suite (SURVEY §2.2d) — the web-analytics scan/
  * aggregate workload that rounds out the reference's benchmark grade
  * (stock DuckDB advertises TPC-H + TPC-DS + ClickBench; see
  * /root/reference/benchmark/ and duckdb's published ClickBench
  * entries). ClickBench's `hits` table maps onto `events`:
  * EventTime→ts, UserID→user_id, SearchPhrase→event_type,
  * URL→'/page/<k>' derived from the props JSON, metric columns→value.
  *
  * The 14 shapes cover the benchmark's distinct plan classes: whole-
  * table counts with conditional aggregates (Q0–Q3), multi-distinct
  * cardinalities (Q4–Q6), GROUP BY … ORDER BY count (Q7–Q13),
  * composite-key user×phrase tops (Q14–Q17), per-minute user
  * timelines (Q18), point lookups (Q19), LIKE scans over URLs
  * (Q20–Q26), a wide sum battery (Q29), frequency HAVING cohorts
  * (Q30–Q32), hourly distinct-user trends (Q34–Q35) and paginated
  * top-page listings with OFFSET (Q36–Q42).
  *
  * Scale posture: every query is a single scan + one (partial-agg)
  * exchange; the distinct-heavy ones rely on Spark's partial-distinct
  * expand, the top-N ones on TakeOrderedAndProject (never a global
  * sort), and the paginated one on a count-bounded limit. Aggregated
  * doubles route through DECIMAL(18,4) (functions/Exact discipline)
  * so both engines hash-match bit-exactly.
  *
  * The URL column is derived with DuckDB's json_extract_string, which
  * the front door runs as Spark's get_json_object (the f10 mapping).
  */
object ClickBench {

  /** Oracle-side spelling of the derived URL column. */
  private val pageSql =
    "concat('/page/', json_extract_string(props, '$.k'))"

  val defs: Seq[QDef] = Seq(

    // Q0–Q3 class: full-scan counts, a conditional count, exact sums.
    QDef.text("cb01_scan_agg",
      """SELECT COUNT(*) AS n,
        | COUNT(*) FILTER (WHERE value > 50) AS n_hi,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) AS avg_value
        |FROM events""".stripMargin),

    // Q4–Q6 class: distinct cardinalities + time extent in one pass.
    QDef.text("cb02_distincts",
      """SELECT COUNT(DISTINCT user_id) AS users,
        | COUNT(DISTINCT event_type) AS types,
        | MIN(ts) AS first_ts, MAX(ts) AS last_ts
        |FROM events""".stripMargin),

    // Q7 class: low-cardinality GROUP BY ordered by count.
    QDef.text("cb03_type_counts",
      """SELECT event_type, COUNT(*) AS n
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type""".stripMargin),

    // Q8–Q9 class: cohort (region≈user_id%10) distinct-user tops.
    QDef.text("cb04_region_users",
      """SELECT user_id % 10 AS region, COUNT(DISTINCT user_id) AS users,
        | COUNT(*) AS hits
        |FROM events GROUP BY user_id % 10
        |ORDER BY users DESC, region LIMIT 10""".stripMargin),

    // Q10–Q13 class: top pages by hits + distinct visitors.
    QDef.text("cb05_top_pages",
      s"""SELECT $pageSql AS page, COUNT(*) AS n,
         | COUNT(DISTINCT user_id) AS users
         |FROM events GROUP BY 1
         |ORDER BY n DESC, page LIMIT 10""".stripMargin),

    // Q14–Q17 class: composite user×phrase top-N.
    QDef.text("cb06_user_type_top",
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY n DESC, user_id, event_type LIMIT 10""".stripMargin),

    // Q18 class: per-user per-minute activity timeline.
    QDef.text("cb07_user_minute",
      """SELECT user_id, date_trunc('minute', ts) AS m, COUNT(*) AS n
        |FROM events GROUP BY user_id, date_trunc('minute', ts)
        |ORDER BY n DESC, user_id, m LIMIT 10""".stripMargin),

    // Q19 class: single-user point lookup (predicate pushdown probe).
    // user_id 7 exists at every SF (sf0.001's id range is only 0–14,
    // so ClickBench's traditional UserID constant would select zero
    // rows there and defeat the pushdown probe).
    QDef.text("cb08_point_lookup",
      """SELECT event_id, ts, event_type,
        | CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value
        |FROM events WHERE user_id = 7
        |ORDER BY ts, event_id LIMIT 20""".stripMargin),

    // Q20–Q22 class: LIKE scan over the derived URL.
    QDef.text("cb09_like_scan",
      s"""SELECT COUNT(*) AS n, MIN(page) AS min_page, MAX(page) AS max_page
         |FROM (SELECT $pageSql AS page FROM events)
         |WHERE page LIKE '%3%'""".stripMargin),

    // Q23–Q26 class: filtered detail rows, time-ordered page.
    QDef.text("cb10_recent_hot",
      """SELECT event_id, ts, event_type
        |FROM events WHERE value > 90
        |ORDER BY ts, event_id LIMIT 10""".stripMargin),

    // Q29 class: wide sum battery (many aggregates, one scan).
    QDef.text("cb11_sum_battery",
      """SELECT
        | CAST(SUM(CAST(value + 1 AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        | CAST(SUM(CAST(value + 2 AS DECIMAL(18,4))) AS DOUBLE) AS s2,
        | CAST(SUM(CAST(value + 3 AS DECIMAL(18,4))) AS DOUBLE) AS s3,
        | CAST(SUM(CAST(value + 4 AS DECIMAL(18,4))) AS DOUBLE) AS s4,
        | CAST(SUM(CAST(value + 5 AS DECIMAL(18,4))) AS DOUBLE) AS s5,
        | CAST(SUM(CAST(value + 6 AS DECIMAL(18,4))) AS DOUBLE) AS s6,
        | CAST(SUM(CAST(value + 7 AS DECIMAL(18,4))) AS DOUBLE) AS s7,
        | CAST(SUM(CAST(value + 8 AS DECIMAL(18,4))) AS DOUBLE) AS s8,
        | CAST(SUM(CAST(value + 9 AS DECIMAL(18,4))) AS DOUBLE) AS s9,
        | CAST(SUM(CAST(value + 10 AS DECIMAL(18,4))) AS DOUBLE) AS s10
        |FROM events""".stripMargin),

    // Q30–Q32 class: frequency cohort via HAVING.
    QDef.text("cb12_frequent_users",
      """SELECT user_id, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id HAVING COUNT(*) > 50
        |ORDER BY n DESC, user_id""".stripMargin),

    // Q34–Q35 class: hourly distinct-user trend.
    QDef.text("cb13_hourly_users",
      """SELECT date_trunc('hour', ts) AS h, COUNT(DISTINCT user_id) AS users,
        | COUNT(*) AS n
        |FROM events GROUP BY date_trunc('hour', ts)
        |ORDER BY h""".stripMargin),

    // Q36–Q42 class: paginated top pages (LIMIT … OFFSET) in a window.
    QDef.text("cb14_paged_pages",
      s"""SELECT $pageSql AS page, COUNT(*) AS n
         |FROM events
         |WHERE event_type IN ('click', 'view')
         |GROUP BY 1
         |ORDER BY n DESC, page LIMIT 10 OFFSET 10""".stripMargin)
  )
}
