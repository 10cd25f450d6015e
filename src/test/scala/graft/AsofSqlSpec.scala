package graft

import org.scalatest.funsuite.AnyFunSuite

/** ASOF joins through the front door: the dialect marks the join,
  * Catalyst resolves it like any join, and plans/AsofJoinRule plans it
  * as operators/Joins.asofJoin. All four reference inequalities ×
  * inner/left, every result pinned by running the identical text in
  * DuckDB 1.0.0 (bind_joinref's ASOF validation; `>=`/`>` match
  * backward, `<=`/`<` forward, strictness decides whether equal
  * times match).
  */
class AsofSqlSpec extends AnyFunSuite {
  import TestSession._

  private lazy val fixture: Unit = {
    spark.sql(
      """SELECT * FROM VALUES
        | (1, TIMESTAMP '2024-01-01 10:00:00', 1),
        | (1, TIMESTAMP '2024-01-01 11:00:00', 2),
        | (2, TIMESTAMP '2024-01-01 10:30:00', 3),
        | (3, TIMESTAMP '2024-01-01 09:00:00', 4) AS l(k, t, lid)""".stripMargin)
      .createOrReplaceTempView("asof_l")
    spark.sql(
      """SELECT * FROM VALUES
        | (1, TIMESTAMP '2024-01-01 09:30:00', 10),
        | (1, TIMESTAMP '2024-01-01 10:00:00', 11),
        | (1, TIMESTAMP '2024-01-01 10:45:00', 12),
        | (2, TIMESTAMP '2024-01-01 11:00:00', 13) AS r(rk, rt, rid)""".stripMargin)
      .createOrReplaceTempView("asof_r")
  }

  private def run(op: String, left: Boolean): Seq[(Int, Any)] = {
    fixture
    val join = if (left) "ASOF LEFT JOIN" else "ASOF JOIN"
    GraftSql.sql(spark,
      s"SELECT lid, rid FROM asof_l l $join asof_r r ON l.k = r.rk AND l.t $op r.rt ORDER BY lid")
      .collect().map(r => (r.getInt(0), r.get(1))).toSeq
  }

  test(">= backward inclusive (DuckDB-pinned)") {
    assert(run(">=", left = false) === Seq((1, 11), (2, 12)))
    assert(run(">=", left = true) === Seq((1, 11), (2, 12), (3, null), (4, null)))
  }

  test("> backward strict") {
    assert(run(">", left = false) === Seq((1, 10), (2, 12)))
    assert(run(">", left = true) === Seq((1, 10), (2, 12), (3, null), (4, null)))
  }

  test("<= forward inclusive") {
    assert(run("<=", left = false) === Seq((1, 11), (3, 13)))
    assert(run("<=", left = true) === Seq((1, 11), (2, null), (3, 13), (4, null)))
  }

  test("< forward strict") {
    assert(run("<", left = false) === Seq((1, 12), (3, 13)))
    assert(run("<", left = true) === Seq((1, 12), (2, null), (3, 13), (4, null)))
  }

  test("times of one type order as they are, not as TIMESTAMP (DuckDB-pinned)") {
    // 0.0000001 and 0.0000002 are one microsecond apart at most as
    // TIMESTAMPs; as DECIMALs the first precedes the second
    def rows(l: String, r: String) = GraftSql.sql(spark,
      s"SELECT p.a, e.b FROM (VALUES ($l)) p(a) ASOF JOIN (VALUES ($r)) e(b) ON p.a >= e.b")
      .collect().map(x => (x.getDecimal(0).toPlainString, x.getDecimal(1).toPlainString)).toSeq
    assert(rows("0.0000001", "0.0000002") === Seq())
    assert(rows("0.0000001", "0.0000001") === Seq(("0.0000001", "0.0000001")))
  }

  test("flipped spelling (right expr on the left of the inequality) normalizes") {
    fixture
    val got = GraftSql.sql(spark,
      "SELECT lid, rid FROM asof_l l ASOF JOIN asof_r r ON r.rk = l.k AND r.rt <= l.t ORDER BY lid")
      .collect().map(r => (r.getInt(0), r.get(1))).toSeq
    assert(got === Seq((1, 11), (2, 12)))
  }

  test("r13: ASOF ANTI JOIN returns probe rows with no match (DuckDB-pinned)") {
    // DuckDB 1.0: (VALUES (1),(5),(12)) ASOF ANTI (VALUES (3),(10)) on
    // >= leaves only 1 (5 matches 3, 12 matches 10)
    val got = GraftSql.sql(spark,
      "SELECT p.begin FROM (VALUES (1),(5),(12)) p(begin) ASOF ANTI JOIN " +
      "(VALUES (3),(10)) e(begin) ON p.begin >= e.begin ORDER BY 1")
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(1))
  }

  test("r13: parenthesized-relation alias does not shadow same-named views") {
    fixture
    // `(SELECT …) trades13 ASOF JOIN …` must not re-point the session
    // name `trades13` at the subquery frame for later statements
    spark.sql("SELECT 99 AS marker").createOrReplaceTempView("trades13")
    val out = GraftSql.sql(spark,
      "SELECT lid, rid FROM (SELECT * FROM asof_l) trades13 ASOF JOIN asof_r r " +
      "ON trades13.k = r.rk AND trades13.t >= r.rt ORDER BY lid")
      .collect().map(r => (r.getInt(0), r.get(1))).toSeq
    assert(out === Seq((1, 11), (2, 12)))
    assert(spark.table("trades13").columns.toSeq == Seq("marker"))
    spark.catalog.dropTempView("trades13")
  }

  test("ASOF RIGHT JOIN: inner match set right-outer-extended (DuckDB-pinned)") {
    fixture
    // DuckDB 1.0: [(NULL,10), (1,11), (2,12), (NULL,13)] — the inner
    // pairs plus each unmatched right row once with NULL left columns
    val out = GraftSql.sql(spark,
      "SELECT lid, rid FROM asof_l l ASOF RIGHT JOIN asof_r r ON l.k = r.rk AND l.t >= r.rt ORDER BY rid")
      .collect().map(r => (r.get(0), r.getInt(1))).toSeq
    assert(out === Seq((null, 10), (1, 11), (2, 12), (null, 13)))
  }

  // the right side shares the names k and t with the left side
  private lazy val colliding: Unit = {
    spark.sql(
      """SELECT * FROM VALUES
        | (1, TIMESTAMP '2024-01-01 10:00:00', 1),
        | (1, TIMESTAMP '2024-01-01 11:00:00', 2),
        | (2, TIMESTAMP '2024-01-01 10:30:00', 3),
        | (3, TIMESTAMP '2024-01-01 09:00:00', 4) AS l(k, t, lid)""".stripMargin)
      .createOrReplaceTempView("al")
    spark.sql(
      """SELECT * FROM VALUES
        | (1, TIMESTAMP '2024-01-01 09:30:00', 10),
        | (1, TIMESTAMP '2024-01-01 10:00:00', 11),
        | (1, TIMESTAMP '2024-01-01 10:45:00', 12),
        | (2, TIMESTAMP '2024-01-01 11:00:00', 13) AS r(k, t, rid)""".stripMargin)
      .createOrReplaceTempView("ar")
    spark.sql("SELECT * FROM VALUES (11, 'y'), (12, 'z'), (13, 'w') AS x(rid, tag)")
      .createOrReplaceTempView("ax")
  }

  private val asof = "al l ASOF JOIN ar r ON l.k = r.k AND l.t >= r.t"

  /** Column names and rows, timestamps as instants. */
  private def table(q: String): (Seq[String], Seq[Seq[Any]]) = {
    colliding
    val df = GraftSql.sql(spark, q)
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.toInstant
      case v => v
    }))
  }
  private def at(hhmm: String) = java.time.Instant.parse(s"2024-01-01T$hhmm:00Z")

  test("a string literal that spells a qualified column stays a literal (DuckDB-pinned)") {
    assert(table(s"SELECT 'r.t' AS s, lid, rid FROM $asof ORDER BY lid") ===
      (Seq("s", "lid", "rid"), Seq(Seq("r.t", 1, 11), Seq("r.t", 2, 12))))
  }

  test("SELECT * keeps both sides' columns, colliding names included (DuckDB-pinned)") {
    assert(table(s"SELECT * FROM $asof ORDER BY lid") ===
      (Seq("k", "t", "lid", "k", "t", "rid"), Seq(
        Seq(1, at("10:00"), 1, 1, at("10:00"), 11),
        Seq(1, at("11:00"), 2, 1, at("10:45"), 12))))
  }

  test("ASOF JOIN inside a FROM subquery (DuckDB-pinned)") {
    assert(table(s"SELECT count(*) AS n FROM (SELECT lid, rid FROM $asof) s") ===
      (Seq("n"), Seq(Seq(2L))))
  }

  test("ASOF JOIN inside an IN subquery (DuckDB-pinned)") {
    assert(table(s"SELECT lid FROM al WHERE lid IN (SELECT lid FROM $asof) ORDER BY lid") ===
      (Seq("lid"), Seq(Seq(1), Seq(2))))
  }

  test("a later JOIN reads the ASOF join's right columns (DuckDB-pinned)") {
    assert(table(s"SELECT lid, tag FROM $asof JOIN ax ON ax.rid = r.rid ORDER BY lid") ===
      (Seq("lid", "tag"), Seq(Seq(1, "y"), Seq(2, "z"))))
  }

  test("two ASOF joins in one FROM clause (DuckDB-pinned)") {
    assert(table(s"SELECT lid, r.rid, r2.rid FROM $asof " +
      "ASOF JOIN ar r2 ON l.k = r2.k AND l.t <= r2.t ORDER BY lid") ===
      (Seq("lid", "rid", "rid"), Seq(Seq(1, 11, 11))))
  }

  test("ASOF SEMI / ANTI JOIN are the plain SEMI / ANTI joins (DuckDB-pinned)") {
    for ((kind, want) <- Seq("SEMI" -> Seq(1, 2), "ANTI" -> Seq(3, 4))) {
      colliding
      val q = s"SELECT lid FROM al l ASOF $kind JOIN ar r ON l.k = r.k AND l.t >= r.t ORDER BY lid"
      val df = GraftSql.sql(spark, q)
      assert(df.collect().map(_.getInt(0)).toSeq === want, kind)
      assert(table(q.replace("ASOF ", ""))._2.map(_.head) === want, kind)
      val plan = df.queryExecution.analyzed
      assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType.sql } ===
        Seq(s"LEFT $kind"), kind)
      assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Except]), kind)
    }
  }

  test("a view over an ASOF join is planned when a later statement reads it") {
    colliding
    for (create <- Seq("CREATE VIEW", "CREATE OR REPLACE TEMP VIEW")) {
      GraftSql.sql(spark, s"$create asof_v AS SELECT lid, rid FROM $asof")
      try assert(table("SELECT lid, rid FROM asof_v ORDER BY lid") ===
        (Seq("lid", "rid"), Seq(Seq(1, 11), Seq(2, 12))), create)
      finally spark.catalog.dropTempView("asof_v")
    }
  }

  test("a condition without exactly one inequality raises the reference's message") {
    colliding
    val missing = intercept[IllegalArgumentException](
      GraftSql.sql(spark, "SELECT lid FROM al l ASOF JOIN ar r ON l.k = r.k"))
    assert(missing.getMessage.contains("Missing ASOF JOIN inequality"))
    val multiple = intercept[IllegalArgumentException](GraftSql.sql(spark,
      "SELECT lid FROM al l ASOF JOIN ar r ON l.k = r.k AND l.t >= r.t AND l.t <= r.t"))
    assert(multiple.getMessage.contains("Multiple ASOF JOIN inequalities"))
    for (kind <- Seq("SEMI", "ANTI")) {
      val e = intercept[IllegalArgumentException](
        GraftSql.sql(spark, s"SELECT lid FROM al l ASOF $kind JOIN ar r ON l.k = r.k"))
      assert(e.getMessage.contains("Missing ASOF JOIN inequality"), kind)
    }
  }

  test("an expression still holding the ASOF marker fails at execution, returning no rows") {
    colliding
    val df = GraftSql.sql(spark, "SELECT lid FROM al WHERE graft_asof(lid = 1)")
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("graft_asof"), e.getMessage)
  }
}
