package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference's TIME type (src/common/types/time.cpp) through the
  * front door, on Spark 4.1's native TimeType
  * (spark.sql.timeType.enabled — GraftSession turns it on; the
  * dialect maps TIME to the native type in that case, STRING
  * otherwise). Expectations pinned by running the same statements in
  * python-duckdb:
  *   make_time(12,30,45.5)          → 12:30:45.5
  *   '23:59:59'::TIME > '08:00:00'  → true
  *   EXTRACT h/m/s of 12:30:45      → 12 / 30 / 45
  *   CAST(TIME AS VARCHAR)          → '12:30:45'
  */
class TimeTypeSpec extends AnyFunSuite {
  import TestSession._

  private def one(q: String): org.apache.spark.sql.Row =
    GraftSql.sql(spark, q).collect()(0)

  test("TIME literals, casts and comparisons are native and match DuckDB") {
    assert(spark.conf.get("spark.sql.timeType.enabled") == "true")
    val df = GraftSql.sql(spark, "SELECT TIME '12:30:45' AS t")
    assert(df.schema.head.dataType.isInstanceOf[org.apache.spark.sql.types.TimeType])
    assert(one("SELECT CAST(TIME '12:30:45' AS VARCHAR) AS s").getString(0) === "12:30:45")
    assert(one("SELECT '23:59:59'::TIME > '08:00:00'::TIME AS gt").getBoolean(0))
    assert(one("SELECT TIME '12:30:45' = '12:30:45'::TIME AS eq").getBoolean(0))
  }

  test("make_time and EXTRACT match DuckDB") {
    val mt = one("SELECT CAST(make_time(12, 30, 45.5) AS VARCHAR) AS s").getString(0)
    assert(mt.startsWith("12:30:45.5"))
    val r = one("SELECT EXTRACT(HOUR FROM TIME '12:30:45') AS h, " +
      "EXTRACT(MINUTE FROM TIME '12:30:45') AS m, " +
      "CAST(EXTRACT(SECOND FROM TIME '12:30:45') AS INT) AS s")
    // hour and minute are BIGINT, as in DuckDB
    assert((r.getLong(0), r.getLong(1), r.getInt(2)) === ((12L, 30L, 45)))
  }

  test("ORDER BY over TIME values is chronological") {
    val got = GraftSql.sql(spark,
      """SELECT CAST(t AS VARCHAR) AS s FROM (
        |  SELECT TIME '23:00:01' AS t UNION ALL
        |  SELECT TIME '01:30:00' UNION ALL
        |  SELECT TIME '12:00:00') ORDER BY t""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("01:30:00", "12:00:00", "23:00:01"))
  }
}
