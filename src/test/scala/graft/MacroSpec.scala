package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark 4 SQL UDFs as the CREATE MACRO analog (reference:
  * src/parser/parsed_data/create_macro_info.cpp): named SQL
  * expressions, composable, and — like DuckDB macros — expanded into
  * the caller's plan at analysis time rather than executed as opaque
  * function calls.
  */
class MacroSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("scalar SQL UDFs evaluate and compose") {
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION m_band(p DOUBLE) " +
      "RETURNS BIGINT RETURN CAST(FLOOR(p / 1000) AS BIGINT)")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION m_label(p DOUBLE) " +
      "RETURNS STRING RETURN concat('band_', CAST(m_band(p) AS STRING))")
    val r = spark.sql("SELECT m_band(2500.0) AS b, m_label(999.0) AS l")
      .as[(Long, String)].head()
    assert(r == ((2L, "band_0")))
  }

  test("scalar SQL UDF inlines into the plan (no black-box call)") {
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION m_twice(x BIGINT) " +
      "RETURNS BIGINT RETURN x * 2")
    val df = spark.range(10).selectExpr("m_twice(id) AS y")
    // an inlined macro optimizes to plain arithmetic — the optimized
    // plan must not contain a UDF invocation node
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("udf"), plan)
    assert(df.as[Long].collect().sum == 90L)
  }

  test("table-valued SQL UDF (DuckDB table macro analog)") {
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION m_series(n INT) " +
      "RETURNS TABLE (x INT) RETURN SELECT explode(sequence(1, n))")
    val r = spark.sql("SELECT x FROM m_series(4) ORDER BY x")
      .as[Int].collect().toSeq
    assert(r == Seq(1, 2, 3, 4))
  }

  test("the f20_macro script: GraftSql.sql refuses it, runScript runs every statement") {
    val text = SparkEntry.oracleSql("f20_macro")
    graft.sources.Catalog.registerAll(spark, sfDir)
    val e = intercept[IllegalArgumentException](GraftSql.sql(spark, text))
    assert(e.getMessage.contains("runScript"), e.getMessage)
    val results = GraftSql.runScript(spark, text)
    assert(results.size === 3)
    val got = results.last
    val ref = SparkEntry.queries("f20_macro")(spark, sfDir)
    assert(got.count() > 0 && got.count() === ref.count())
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }
}
