package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WindowExclude
import graft.operators.WindowExclude._

/** Hand-computed SQL:2011 frame-exclusion semantics on a fixture with
  * real peer groups (two rows tie on the order key) — the exact cases
  * the algebraic rewrites must get right: ties, NULL-on-empty frames,
  * and single-row partitions.
  */
class WindowExcludeSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // (id, g, o, x): g=1 holds 4 rows, o=2 is a 2-row peer group;
  // g=2 is a single-row partition (empty-after-exclusion cases).
  private lazy val df = Seq(
    (1L, 1, 1, 10L), (2L, 1, 2, 20L), (3L, 1, 2, 30L),
    (4L, 1, 3, 40L), (5L, 2, 1, 5L)
  ).toDF("id", "g", "o", "x")

  private val part = Seq(col("g"))
  private val ordFull = Seq(col("o"))
  private val ordRows = Seq(col("o"), col("id"))

  private def wf = FullPartition
  private def wr = RowsAround(1, 1)

  private def collect(c: org.apache.spark.sql.Column): Seq[Option[Long]] =
    df.select(col("id"), c.cast("long").as("r")).orderBy(col("id"))
      .as[(Long, Option[Long])].collect().toSeq.map(_._2)

  test("SUM over full partition EXCLUDE CURRENT ROW (NULL on single-row partition)") {
    assert(collect(sumExclude(col("x"), wf, part, ordFull, ExcludeCurrentRow)) ==
      Seq(Some(90L), Some(80L), Some(70L), Some(60L), None))
  }

  test("SUM over full partition EXCLUDE GROUP removes the whole peer group") {
    assert(collect(sumExclude(col("x"), wf, part, ordFull, ExcludeGroup)) ==
      Seq(Some(90L), Some(50L), Some(50L), Some(60L), None))
  }

  test("SUM over full partition EXCLUDE TIES keeps the current row, drops its peers") {
    assert(collect(sumExclude(col("x"), wf, part, ordFull, ExcludeTies)) ==
      Seq(Some(100L), Some(70L), Some(80L), Some(100L), Some(5L)))
  }

  test("COUNT EXCLUDE GROUP") {
    assert(collect(countExclude(col("x"), wf, part, ordFull, ExcludeGroup)) ==
      Seq(Some(3L), Some(2L), Some(2L), Some(3L), Some(0L)))
  }

  test("SUM over bounded ROWS frame EXCLUDE CURRENT ROW") {
    assert(collect(sumExclude(col("x"), wr, part, ordRows, ExcludeCurrentRow)) ==
      Seq(Some(20L), Some(40L), Some(60L), Some(30L), None))
  }

  test("MIN over bounded ROWS frame EXCLUDE CURRENT ROW via frame split") {
    assert(collect(
      WindowExclude.minExcludeCurrentRow(col("x"), part, ordRows, 1, 1)) ==
      Seq(Some(20L), Some(10L), Some(20L), Some(30L), None))
  }

  test("MAX over bounded ROWS frame EXCLUDE CURRENT ROW via frame split") {
    assert(collect(
      WindowExclude.maxExcludeCurrentRow(col("x"), part, ordRows, 1, 1)) ==
      Seq(Some(20L), Some(30L), Some(40L), Some(30L), None))
  }

  test("MIN/MAX EXCLUDE CURRENT ROW over a frame starting at the current row") {
    assert(collect(WindowExclude.minExcludeCurrentRow(col("x"), part, ordRows, 0, 1)) ==
      Seq(Some(20L), Some(30L), Some(40L), None, None))
    assert(collect(WindowExclude.maxExcludeCurrentRow(col("x"), part, ordRows, 1, 0)) ==
      Seq(None, Some(10L), Some(20L), Some(30L), None))
  }

  test("AVG EXCLUDE GROUP (exact rational over the fixture)") {
    assert(collect(avgExclude(col("x"), wf, part, ordFull, ExcludeGroup)) ==
      Seq(Some(30L), Some(25L), Some(25L), Some(20L), None))
  }

  test("all exclusion variants over one (partition, order) spec plan as ONE Window operator") {
    // the scaladoc's scale claim: the rewrites add expressions, not
    // passes — q55's full-frame variants must share a single sort
    val projected = df.select(col("id"),
      sumExclude(col("x"), wf, part, ordFull, ExcludeCurrentRow).as("a"),
      sumExclude(col("x"), wf, part, ordFull, ExcludeGroup).as("b"),
      sumExclude(col("x"), wf, part, ordFull, ExcludeTies).as("c"),
      countExclude(col("x"), wf, part, ordFull, ExcludeGroup).as("d"))
    val plan = org.apache.spark.sql.GraftBridge.explainString(projected)
    val windows = "(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(plan).size
    assert(windows == 1, s"expected one Window operator, got $windows:\n$plan")
  }

  test("unsupported frame/exclusion combinations are rejected at call time") {
    // bounded ROWS can split a peer group — GROUP/TIES must refuse
    intercept[IllegalArgumentException] {
      sumExclude(col("x"), RowsAround(1, 1), part, ordRows, ExcludeGroup)
    }
    intercept[IllegalArgumentException] {
      countExclude(col("x"), RowsAround(1, 1), part, ordRows, ExcludeTies)
    }
    // a frame that can't contain the current row is invalid outright
    intercept[IllegalArgumentException] { RowsAround(-1, 3) }
    intercept[IllegalArgumentException] { RangeAround(2, -1) }
  }

  test("NULL inputs neither count nor break the subtraction") {
    val withNull = Seq(
      (1L, 1, 1, Some(10L)), (2L, 1, 2, None), (3L, 1, 3, Some(30L))
    ).toDF("id", "g", "o", "x")
    val r = withNull.select(col("id"),
        sumExclude(col("x"), wf, part, ordFull, ExcludeCurrentRow).cast("long").as("r"))
      .orderBy(col("id")).as[(Long, Option[Long])].collect().toSeq.map(_._2)
    // excluding the NULL row leaves {10, 30}; excluding a value row
    // leaves the other value (the NULL contributes nothing)
    assert(r == Seq(Some(30L), Some(40L), Some(10L)))
  }

  /** The analyzed plan of `q` through the front door. */
  private def analyzed(q: String) = GraftSql.sql(spark, q).queryExecution.analyzed

  private def excludeKernels(q: String): Seq[(String, String)] =
    analyzed(q).flatMap(_.expressions.flatMap(_.collect {
      case e: graft.operators.ExcludeAgg => (e.kindE.toString, e.fnE.toString)
    }))

  test("SQL pass routes peer-cutting frames to the collected-frame fallback") {
    // a bounded ROWS frame can cut the peer group — the algebraic
    // rewrite would subtract rows never in the frame; these route to
    // ExcludeAgg (frame-intersected by construction, r10)
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW wex AS SELECT * FROM (VALUES (1, 10), (2, 20), (2, 30)) v(o, x)")
    assert(excludeKernels(
      "SELECT SUM(x) OVER (ORDER BY o ROWS BETWEEN 5 PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM wex")
      .map(_._1) === Seq("group"))
    assert(excludeKernels(
      "SELECT SUM(x) OVER (ORDER BY o ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING EXCLUDE CURRENT ROW) FROM wex")
      .map(_._1) === Seq("current"))
    // holistic aggregates always take the fallback
    assert(excludeKernels(
      "SELECT MEDIAN(x) OVER (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) FROM wex")
      .map(_._2) === Seq("median"))
    // distributive aggregates on safe frames keep the O(1)/row algebra
    val ok = "SELECT SUM(x) OVER (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) FROM wex"
    assert(excludeKernels(ok).isEmpty)
    import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RangeFrame, SpecifiedWindowFrame, WindowSpecDefinition}
    assert(analyzed(ok).exists(_.expressions.exists(_.exists {
      case s: WindowSpecDefinition => s.frameSpecification == SpecifiedWindowFrame(RangeFrame, CurrentRow, CurrentRow)
      case _ => false
    })))
  }

  test("named windows bind per scope, EXCLUDE beside them (DuckDB-pinned)") {
    // DuckDB 1.0.0 rows for the same texts; the inner scope's `w` is its own
    def rows(q: String): Seq[Seq[Any]] = GraftSql.sql(spark, q).collect().toSeq.map(_.toSeq)
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW wt AS SELECT * FROM (VALUES (1), (2), (3)) v(x)")
    assert(rows("""SELECT x, sum(x) OVER w AS s, (SELECT max(y) FROM (SELECT sum(x) OVER w AS y
        FROM wt WINDOW w AS (ORDER BY x DESC ROWS BETWEEN CURRENT ROW AND CURRENT ROW))) AS m
        FROM wt WINDOW w AS (ORDER BY x) ORDER BY x""") ===
      Seq(Seq(1, 1L, 3L), Seq(2, 3L, 3L), Seq(3, 6L, 3L)))
    assert(rows("SELECT exclude FROM (VALUES (1)) v(exclude)") === Seq(Seq(1)))
    assert(rows("""SELECT x, sum(x) OVER w AS s FROM wt WINDOW w AS
        (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) ORDER BY x""") ===
      Seq(Seq(1, 2L), Seq(2, 4L), Seq(3, 2L)))
    assert(rows("""SELECT x, sum(x) OVER (w ROWS BETWEEN x PRECEDING AND CURRENT ROW) AS s
        FROM wt WINDOW w AS (ORDER BY x) ORDER BY x""") ===
      Seq(Seq(1, 1L), Seq(2, 3L), Seq(3, 6L)))
    assert(rows("""SELECT x,
        count(*) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS c,
        min(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS m
        FROM wt ORDER BY x""") ===
      Seq(Seq(1, 2L, 2), Seq(2, 3L, 1), Seq(3, 2L, 2)))
    // a per-row offset that is a scalar subquery
    assert(rows("""SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN (SELECT 1) PRECEDING AND CURRENT ROW) AS s
        FROM wt ORDER BY x""") === Seq(Seq(1, 1L), Seq(2, 3L), Seq(3, 5L)))
    // a reference extending a named window by ORDER BY; names match case-insensitively
    assert(rows("""SELECT x, sum(x) OVER (W ORDER BY x) AS s FROM wt
        WINDOW w AS (PARTITION BY x % 2) ORDER BY x""") === Seq(Seq(1, 1L), Seq(2, 2L), Seq(3, 4L)))
  }

  test("FIRST_VALUE / LAST_VALUE EXCLUDE CURRENT ROW over RANGE frames keep the row's peers (DuckDB-pinned)") {
    assert(GraftSql.sql(spark, """SELECT x,
        first_value(x) OVER (ORDER BY x RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) f,
        last_value(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) l
        FROM (VALUES (1), (1), (2)) v(x) ORDER BY x, f, l""").collect().toSeq.map(_.toSeq) ===
      Seq(Seq(1, 1, 1), Seq(1, 1, 1), Seq(2, null, 1)))
  }

  test("AVG / FILTER / FIRST_VALUE / LAST_VALUE exclusion — DuckDB-pinned") {
    // every expectation below is DuckDB 1.0 output for the same text
    // (captured 2026-08-15); NULL = empty-after-exclusion
    def rows(q: String): Seq[Seq[Any]] =
      GraftSql.sql(spark, q).collect().toSeq.map(_.toSeq)
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW wet AS SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40)) v(i, x)")
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW weties AS SELECT * FROM (VALUES (1, 10), (2, 20), (2, 30), (3, 40)) v(i, x)")
    assert(rows("""SELECT i, avg(x) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW EXCLUDE CURRENT ROW) FROM wet ORDER BY i""") === Seq(
      Seq(1, null), Seq(2, 10.0), Seq(3, 15.0), Seq(4, 20.0)))
    assert(rows("""SELECT i, avg(x) OVER (ORDER BY i RANGE BETWEEN UNBOUNDED PRECEDING
        AND UNBOUNDED FOLLOWING EXCLUDE GROUP) FROM weties ORDER BY i, x""") === Seq(
      Seq(1, 30.0), Seq(2, 25.0), Seq(2, 25.0), Seq(3, 20.0)))
    assert(rows("""SELECT i, CAST(sum(x) FILTER (WHERE x > 15) OVER (ORDER BY i ROWS BETWEEN
        UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS BIGINT)
        FROM wet ORDER BY i""") === Seq(
      Seq(1, null), Seq(2, null), Seq(3, 20L), Seq(4, 50L)))
    assert(rows("""SELECT i, CAST(count(*) FILTER (WHERE x > 15) OVER (ORDER BY i RANGE BETWEEN
        UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS BIGINT)
        FROM weties ORDER BY i, x""") === Seq(
      Seq(1, 3L), Seq(2, 2L), Seq(2, 2L), Seq(3, 3L)))
    assert(rows("""SELECT i, first_value(x) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
        AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) FROM wet ORDER BY i""") === Seq(
      Seq(1, 20), Seq(2, 30), Seq(3, 40), Seq(4, null)))
    assert(rows("""SELECT i, last_value(x) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW EXCLUDE CURRENT ROW) FROM wet ORDER BY i""") === Seq(
      Seq(1, null), Seq(2, 10), Seq(3, 20), Seq(4, 30)))
    // SUM over a fully-excluded peer group is NULL, not 0
    assert(rows("""SELECT i, CAST(sum(x) OVER (ORDER BY i RANGE BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) FROM weties ORDER BY i, x""") === Seq(
      Seq(1, null), Seq(2, 10L), Seq(2, 10L), Seq(3, 60L)))
  }
}
