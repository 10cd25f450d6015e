package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.FunctionTable

/** The function table (plans/FunctionTable) never changes what a
  * Spark built-in name means on a graft session: a name Spark also
  * binds must be on `sharedWithSpark` and return the plain-session
  * result at every Spark arity. DuckDB meanings that differ live in
  * the dialect front door (GraftSql), pinned here against DuckDB.
  */
class FunctionTableSpec extends AnyFunSuite {
  import TestSession._

  private val sharedWithSpark =
    Set("len", "date_diff", "datediff", "encode", "decode", "regexp_replace")

  /** A session without the graft extensions, on the same context. */
  private lazy val plain: SparkSession = {
    val graftSession = spark
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(graftSession)
    SparkSession.setDefaultSession(graftSession)
    s
  }

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.toList
    case other => other
  }
  private def one(s: SparkSession, expr: String): Any = norm(s.sql(s"SELECT $expr").head().get(0))

  test("each name is injected once; only allow-listed names are Spark built-ins") {
    val names = FunctionTable.rows.map(_.name.toLowerCase)
    assert(names.distinct.size === names.size)
    val shadowing = names.filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.toSet === sharedWithSpark)
  }

  test("allow-listed names return the plain-session result at every Spark arity") {
    val calls = Seq(
      "len('héllo')", "len(X'01020304')", "len(123)", "len(CAST(1.5 AS DECIMAL(3,1)))",
      "datediff(DATE'2024-03-01', DATE'2024-01-31')",
      "date_diff(DATE'2024-03-01', DATE'2024-01-31')",
      "encode('héllo', 'UTF-8')",
      "decode(encode('héllo', 'UTF-8'), 'UTF-8')",
      "decode(2, 1, 'a', 2, 'b', 'z')",
      "regexp_replace('a.b.c', '[.]', '-')",
      "regexp_replace('a.b.c', '[.]', '-', 3)",
      "regexp_replace('aaa', 'a', 'b', '1')")
    for (c <- calls) assert(one(spark, c) === one(plain, c), c)
  }

  test("the DuckDB meanings of Spark names live in the dialect, not the session") {
    val calls = Seq(
      "regexp_extract('ab12', '([a-z]+)([0-9]+)')" -> ("ab", "ab12"),
      "regexp_extract_all('ab12 cd34', '([a-z]+)([0-9]+)')" ->
        (List("ab", "cd"), List("ab12", "cd34")),
      "dayname(DATE'2024-01-01')" -> ("Mon", "Monday"),
      "monthname(DATE'2024-01-01')" -> ("Jan", "January"))
    for ((c, (sparkValue, duckValue)) <- calls) {
      assert(one(plain, c) === sparkValue, c)
      assert(one(spark, c) === sparkValue, c)
      assert(norm(GraftSql.sql(spark, s"SELECT $c").head().get(0)) === duckValue, c)
    }
    // the dot-chaining spelling x.f(args) carries the same meanings
    assert(GraftSql.sql(spark, "SELECT 'ab12'.regexp_extract('([a-z]+)([0-9]+)'), " +
      "(DATE'2024-01-01').monthname()").head().toSeq === Seq("ab12", "January"))
    // `<=>` called by name is Spark's null-safe equality; the dialect
    // maps only the infix operator to cosine distance
    assert(one(spark, "`<=>`(NULL, NULL)") === true)
  }

  test("the table checks arity with one message") {
    for ((call, msg) <- Seq(
        "hugeint_add(1)" -> "hugeint_add expects 2 arguments, got 1",
        "varint_str('1', '2')" -> "varint_str expects 1 arguments, got 2",
        "to_base(1)" -> "to_base expects 2 or 3 arguments, got 1")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }
}
