package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** A front-door statement binds the relations it computes for itself
  * in its own scope (plans/StatementScope), never in the session's
  * temp-view namespace: the session's views are the same before and
  * after, a user's view named like a CTE survives the statement, and
  * concurrent statements on one session see only their own frames.
  * Every result here is DuckDB 1.0.0's for the same text.
  */
class StatementScopeSpec extends AnyFunSuite {
  import TestSession._

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def rows(q: String): Seq[Seq[Any]] =
    GraftSql.sql(spark, q).collect().toSeq.map(_.toSeq)

  /** Run `body` with a user temp view `c(who, k)`, then check the
    * view and the session's other views are as they were. */
  private def withUserC(body: => Unit): Unit = {
    spark.sql("SELECT 'user' AS who, 0 AS k").createOrReplaceTempView("c")
    val before = tempViews
    try {
      body
      assert(tempViews === before)
      assert(rows("SELECT * FROM c") === Seq(Seq("user", 0)))
    } finally spark.catalog.dropTempView("c")
  }

  private def withTable(name: String)(body: => Unit): Unit = {
    GraftSql.sql(spark, s"DROP TABLE IF EXISTS $name")
    try body finally GraftSql.sql(spark, s"DROP TABLE IF EXISTS $name")
  }

  test("front-door statements that compute relations leave the session's temp views as they were") {
    graft.sources.Catalog.registerAll(spark, sfDir)
    withTable("scope_ret") {
      GraftSql.sql(spark, "CREATE TABLE scope_ret (id INTEGER, v VARCHAR)")
      val statements = Seq(
        "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS b",
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a",
        "SELECT * FROM (DESCRIBE nation)",
        "SELECT * FROM (SUMMARIZE SELECT 1 AS x)",
        "SELECT count(*) FROM (SHOW TABLES) t",
        "SELECT p.begin FROM (VALUES (1), (5)) p(begin) ASOF JOIN (VALUES (3)) e(begin) " +
          "ON p.begin >= e.begin",
        "PIVOT (SELECT * FROM (VALUES (1, 'x', 10), (2, 'y', 20)) t(k, r, v)) ON r USING sum(v)",
        "WITH s AS (SELECT * FROM (VALUES (1, 'x', 10)) t(k, r, v)) PIVOT s ON r USING sum(v)",
        "INSERT INTO scope_ret VALUES (1, 'a') RETURNING *",
        "SELECT * FROM duckdb_variables()",
        "SELECT * FROM duckdb_secrets()")
      val before = tempViews
      statements.foreach { q =>
        GraftSql.sql(spark, q).collect()
        assert(tempViews === before, q)
      }
    }
  }

  test("a user view named like a CTE survives WITH … PIVOT, and the statement reads the CTE") {
    withUserC {
      assert(rows(
        """WITH c AS (SELECT * FROM (VALUES (1, 'x', 10), (1, 'y', 20), (2, 'x', 30)) t(k, r, v))
          |PIVOT c ON r USING sum(v) GROUP BY k ORDER BY k""".stripMargin) ===
        Seq(Seq(1, 10L, 20L), Seq(2, 30L, null)))
    }
  }

  test("a user view named like a CTE survives WITH … ASOF JOIN; a CTE joins itself") {
    val c = "c AS (SELECT * FROM (VALUES (1, 10), (1, 20), (2, 5)) t(k, ts))"
    withUserC {
      assert(rows(
        s"""WITH $c, p AS (SELECT * FROM (VALUES (1, 15, 'a'), (2, 1, 'b')) u(pk, pt, tag))
           |SELECT c.k, c.ts, p.tag FROM c ASOF JOIN p ON c.k = p.pk AND c.ts >= p.pt
           |ORDER BY c.k, c.ts""".stripMargin) === Seq(Seq(1, 20, "a"), Seq(2, 5, "b")))
      assert(!tempViews.contains("p"))
      assert(rows(
        s"""WITH $c SELECT a.k, a.ts, b.ts AS prev FROM c a ASOF JOIN c b
           |ON a.k = b.k AND a.ts > b.ts ORDER BY a.k, a.ts""".stripMargin) ===
        Seq(Seq(1, 20, 10)))
    }
  }

  test("a user view named like a CTE survives WITH … DELETE; a CTE read twice resolves") {
    withTable("scope_del") {
      withUserC {
        def reset(): Unit = GraftSql.runScript(spark,
          "CREATE OR REPLACE TABLE scope_del (k INTEGER); INSERT INTO scope_del VALUES (1), (2), (3), (4)")
        def left: Seq[Int] = rows("SELECT k FROM scope_del ORDER BY k").map(_.head.asInstanceOf[Int])
        reset()
        assert(rows("WITH c AS (SELECT 2 AS k UNION ALL SELECT 3) " +
          "DELETE FROM scope_del WHERE k IN (SELECT k FROM c)") === Seq(Seq(2L)))
        assert(left === Seq(1, 4))
        reset()
        assert(rows("WITH c AS (SELECT 2 AS k) " +
          "DELETE FROM scope_del WHERE k IN (SELECT k FROM c) OR k + 1 IN (SELECT k FROM c)") ===
          Seq(Seq(2L)))
        assert(left === Seq(3, 4))
      }
    }
  }

  test("concurrent UNION BY NAME statements on one session each get their own rows") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = (1 to 2).map { i =>
      Future {
        (1 to 5).map(_ => rows(s"SELECT $i AS a UNION ALL BY NAME SELECT $i AS b").toSet)
      }
    }
    runs.zipWithIndex.foreach { case (f, j) =>
      val i = j + 1
      Await.result(f, 5.minutes).foreach(got => assert(got === Set(Seq(i, null), Seq(null, i))))
    }
  }
}
