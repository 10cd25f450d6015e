package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Scalar-function long tail F38–F41: extended math, date-part
  * extraction, binary encodings, and list operations — the remaining
  * visible width of the reference's core_functions surface
  * (src/core_functions/scalar/{math,date,blob,list}).
  *
  * Float discipline: libm-backed functions (trig, hyperbolic, cbrt,
  * log10) are NOT bit-portable across engines — each engine links its
  * own libm — so both sides snap to a 1e6 grid (FLOOR(x*1e6 + 0.5)),
  * the f28 idiom with extra margin for the row count. Everything else
  * (gcd, factorial, date parts, encodings, integer list ops) is
  * exact.
  */
object FunctionsQ4 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val defs: Seq[QDef] = Seq(

    // F38: extended math — trig/cbrt/log10 on the 1e6
    // grid; factorial, gcd, lcm exact (gcd/lcm are custom codegen'd
    // expressions — Spark has no integer gcd). Inputs are derived
    // from p_size (int 1..50) with exact-rounded divisions, so both
    // engines evaluate the identical double argument.
    QDef.sql("f38_math_extended",
      """SELECT p_partkey,
        |  CAST(FLOOR(sin(p_size / 10.0)*1e6 + 0.5) AS BIGINT) AS sin_e6,
        |  CAST(FLOOR(cos(p_size / 10.0)*1e6 + 0.5) AS BIGINT) AS cos_e6,
        |  CAST(FLOOR(tan(p_size / 10.0)*1e6 + 0.5) AS BIGINT) AS tan_e6,
        |  CAST(FLOOR(asin(p_size / 50.0)*1e6 + 0.5) AS BIGINT) AS asin_e6,
        |  CAST(FLOOR(acos(p_size / 50.0)*1e6 + 0.5) AS BIGINT) AS acos_e6,
        |  CAST(FLOOR(atan(p_size / 10.0)*1e6 + 0.5) AS BIGINT) AS atan_e6,
        |  CAST(FLOOR(atan2(CAST(p_size AS DOUBLE), 25.0)*1e6 + 0.5) AS BIGINT) AS atan2_e6,
        |  CAST(FLOOR(cot(p_size / 10.0)*1e6 + 0.5) AS BIGINT) AS cot_e6,
        |  CAST(FLOOR(degrees(p_size / 10.0)*1e6 + 0.5) AS BIGINT) AS deg_e6,
        |  CAST(FLOOR(radians(CAST(p_size AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS rad_e6,
        |  CAST(FLOOR(cbrt(CAST(p_size AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS cbrt_e6,
        |  CAST(FLOOR(log10(CAST(p_size AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS log10_e6,
        |  CAST(factorial(p_size % 12) AS BIGINT) AS fact,
        |  gcd(CAST(p_size AS BIGINT), 36) AS g,
        |  lcm(CAST(p_size AS BIGINT), 6) AS l
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      def e6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)).cast("long")
      val sz = col("p_size")
      t(s, dir, "part").select(
        col("p_partkey"),
        e6(sin(sz / 10.0)).as("sin_e6"),
        e6(cos(sz / 10.0)).as("cos_e6"),
        e6(tan(sz / 10.0)).as("tan_e6"),
        e6(asin(sz / 50.0)).as("asin_e6"),
        e6(acos(sz / 50.0)).as("acos_e6"),
        e6(atan(sz / 10.0)).as("atan_e6"),
        e6(atan2(sz.cast("double"), lit(25.0))).as("atan2_e6"),
        e6(cot(sz / 10.0)).as("cot_e6"),
        e6(degrees(sz / 10.0)).as("deg_e6"),
        e6(radians(sz.cast("double"))).as("rad_e6"),
        e6(cbrt(sz.cast("double"))).as("cbrt_e6"),
        e6(log10(sz.cast("double"))).as("log10_e6"),
        factorial(sz % 12).as("fact"),
        graft.plans.Formats.gcd(sz.cast("long"), lit(36L)).as("g"),
        graft.plans.Formats.lcm(sz.cast("long"), lit(6L)).as("l"))
        .orderBy(col("p_partkey"))
    },

    // F39: date-part extraction long tail (scalar/date/date_part.cpp
    // and friends): names, ISO fields, century/decade arithmetic,
    // epoch milliseconds, constructors, strptime. isoyear is spelled
    // as year-of-the-week's-Thursday on BOTH sides (Spark's formatter
    // rejects week-based 'Y' patterns); century/decade mirror the
    // reference's integer arithmetic. All exact — no float anywhere.
    QDef.text("f39_date_extended",
      """SELECT o_orderkey,
        |  dayname(o_orderdate) AS dname,
        |  monthname(o_orderdate) AS mname,
        |  CAST(isodow(o_orderdate) AS INT) AS idow,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  CAST(weekofyear(o_orderdate) AS INT) AS woy,
        |  CAST(isoyear(o_orderdate) AS INT) AS iyear,
        |  CAST(century(o_orderdate) AS INT) AS cent,
        |  CAST(decade(o_orderdate) AS INT) AS dec,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ems,
        |  make_date(CAST(EXTRACT(year FROM o_orderdate) AS INT), 1, 1) AS year_start,
        |  strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS reparsed
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F40: binary encodings (scalar/string/hex.cpp, blob/base64.cpp,
    // parse_path.cpp): base64 + round-trip, hex + round-trip
    // (lowercased — DuckDB renders hex lowercase, Spark uppercase),
    // bin, and the parse_path family. ASCII inputs keep
    // every byte comparison exact.
    QDef.text("f40_encoding",
      """SELECT p_partkey,
        |  base64(CAST(p_name AS BLOB)) AS b64,
        |  CAST(from_base64(base64(CAST(p_brand AS BLOB))) AS VARCHAR) AS b64_rt,
        |  hex(p_brand) AS hx,
        |  CAST(unhex(hex(p_type)) AS VARCHAR) AS hx_rt,
        |  bin(p_partkey) AS bn,
        |  parse_filename('data/' || p_brand || '/' || p_partkey || '.parquet') AS fname,
        |  parse_dirpath('data/' || p_brand || '/' || p_partkey || '.parquet') AS dpath,
        |  parse_dirname('data/' || p_brand || '/' || p_partkey || '.parquet') AS dname
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F41: list-function long tail (scalar/list/): slice, distinct
    // cardinality, has_all/has_any, sort both directions, aggregate
    // sum/max — over the word-length lists of p_name (exact
    // integers).
    QDef.text("f41_list_extended",
      """WITH w AS (
        |  SELECT p_partkey,
        |    list_transform(string_split(p_name, ' '), x -> CAST(len(x) AS BIGINT)) AS lens
        |  FROM part)
        |SELECT p_partkey,
        |  array_to_string(list_slice(lens, 2, 4), ',') AS sl,
        |  CAST(len(list_distinct(lens)) AS INT) AS n_uniq,
        |  list_has_all(lens, [4, 5]) AS has45,
        |  list_has_any(lens, [9, 10]) AS has910,
        |  array_to_string(list_sort(lens), ',') AS asc_l,
        |  array_to_string(list_reverse_sort(lens), ',') AS desc_l,
        |  CAST(list_sum(lens) AS BIGINT) AS total,
        |  list_max(lens) AS mx
        |FROM w ORDER BY p_partkey""".stripMargin),

    // F42: list_grade_up — the argsort primitive (scalar/list/
    // grade_up; APL lineage): indices that would sort the list,
    // ties broken by original position. Joined-string rendering as
    // in F41.
    QDef.text("f42_grade_up",
      """WITH w AS (
        |  SELECT p_partkey,
        |    list_transform(string_split(p_name, ' '), x -> CAST(len(x) AS BIGINT)) AS lens
        |  FROM part)
        |SELECT p_partkey,
        |  array_to_string(list_grade_up(lens), ',') AS grade
        |FROM w ORDER BY p_partkey""".stripMargin),

    // F43: the registered SQL surface — ONE query text, run VERBATIM
    // by both engines. The custom expressions ride Spark's
    // FunctionRegistry under their reference names
    // (plans/FunctionTable.scala via GraftExtensions), so a reference
    // user's SQL needs zero translation. This entry is the proof: the
    // string below is both the oracle AND the Spark plan.
    QDef.text("f43_sql_surface",
      """SELECT p_partkey,
        |  damerau_levenshtein(p_brand, 'Brand#25') AS dl,
        |  CAST(hamming(substr(p_name, 1, 6), substr(reverse(p_name), 1, 6)) AS BIGINT) AS hm,
        |  jaccard(p_name, p_type) AS jc,
        |  jaro_similarity(p_name, p_type) AS js,
        |  jaro_winkler_similarity(p_name, p_brand) AS jw,
        |  gcd(CAST(p_size AS BIGINT), 36) AS g,
        |  lcm(CAST(p_size AS BIGINT), 6) AS l,
        |  format_bytes(p_partkey * 1000000) AS fb,
        |  formatReadableDecimalSize(p_partkey * 1000000) AS fd,
        |  bar(CAST(p_size AS DOUBLE), 0, 50, 12) AS chart,
        |  to_base(p_size, 2, 8) AS bits,
        |  unicode(p_brand) AS uc
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F44: verbatim date-part SQL — the registry's date family
    // (isodow/isoyear/century/decade/epoch_ms as expression trees over
    // Spark's own date primitives); one query text for both engines.
    // It runs through the dialect front door: dayname/monthname are
    // Spark built-ins with abbreviated names, and the dialect carries
    // the reference's full-name meaning.
    QDef.text("f44_sql_dates",
      """SELECT o_orderkey,
        |  dayname(o_orderdate) AS dname,
        |  monthname(o_orderdate) AS mname,
        |  isodow(o_orderdate) AS idow,
        |  isoyear(o_orderdate) AS iyear,
        |  century(o_orderdate) AS cent,
        |  decade(o_orderdate) AS dec,
        |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ems
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}
