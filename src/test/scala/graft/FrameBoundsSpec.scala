package graft

import org.scalatest.funsuite.AnyFunSuite

/** Non-literal ROWS frame bounds (plans/WindowFrameRule → FrameAgg)
  * and the EXCLUDE fallback over holistic aggregates / peer-cutting
  * frames (WindowFrameRule → ExcludeAgg). Every expectation is DuckDB
  * output for the same text (pinned 2026-08-15).
  */
class FrameBoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def rows(q: String): Seq[Seq[Any]] =
    GraftSql.sql(spark, q).collect().toSeq.map(_.toSeq)

  private def setup(): Unit = {
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW fb1 AS SELECT * FROM (VALUES (1,10),(2,20),(3,30),(4,40),(5,50)) v(i,x)")
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW fb2 AS SELECT * FROM (VALUES (1,1,10),(2,1,20),(3,1,30),(4,2,40),(5,2,50),(6,3,60)) v(id,o,x)")
  }

  test("non-literal bounds: sum / count over per-row expressions") {
    setup()
    val r = rows("SELECT i, SUM(x) OVER (ORDER BY i ROWS BETWEEN (i%2) PRECEDING AND (i%3) FOLLOWING) AS s, " +
      "COUNT(*) OVER (ORDER BY i ROWS BETWEEN (i%2) PRECEDING AND (i%3) FOLLOWING) AS n FROM fb1 ORDER BY i")
    assert(r.map(x => (x(0), x(1), x(2))) ==
      Seq((1, 30L, 2L), (2, 90L, 3L), (3, 50L, 2L), (4, 90L, 2L), (5, 90L, 2L)))
  }

  test("non-literal bounds: holistic median + positional first_value") {
    setup()
    val m = rows("SELECT i, MEDIAN(x) OVER (ORDER BY i ROWS BETWEEN (i%3) PRECEDING AND 1 FOLLOWING) AS m FROM fb1 ORDER BY i")
    assert(m.map(_(1)) == Seq(15.0, 20.0, 35.0, 40.0, 40.0))
    val f = rows("SELECT i, FIRST_VALUE(x) OVER (ORDER BY i ROWS BETWEEN (i%3) PRECEDING AND (i%2) FOLLOWING) AS f FROM fb1 ORDER BY i")
    assert(f.map(_(1)) == Seq(10, 10, 30, 30, 30))
  }

  test("non-literal bounds: frame entirely past the partition edge is empty") {
    setup()
    // frame [rn+4, rn+5] exists for no row of a 5-row partition
    val r = rows("SELECT i, SUM(x) OVER (ORDER BY i ROWS BETWEEN (i*0+4) FOLLOWING AND (i*0+5) FOLLOWING) AS s FROM fb1 ORDER BY i")
    assert(r.map(_(1)) == Seq(50, null, null, null, null))
  }

  test("EXCLUDE over holistic aggregates, tied keys, unbounded frames (DuckDB-pinned)") {
    setup()
    val med = rows("SELECT id, MEDIAN(x) OVER (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS m FROM fb2 ORDER BY id")
    assert(med.map(_(1)) == Seq(50.0, 50.0, 50.0, 25.0, 25.0, 30.0))
    val ties = rows("SELECT id, MEDIAN(x) OVER (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS m FROM fb2 ORDER BY id")
    assert(ties.map(_(1)) == Seq(45.0, 45.0, 45.0, 30.0, 30.0, 35.0))
    val mad = rows("SELECT id, MAD(x) OVER (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS m FROM fb2 ORDER BY id")
    assert(mad.map(_(1)) == Seq(10.0, 10.0, 20.0, 20.0, 10.0, 10.0))
    val qd = rows("SELECT id, QUANTILE_DISC(x, 0.5) OVER (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS m FROM fb2 ORDER BY id")
    assert(qd.map(_(1)) == Seq(50, 50, 50, 20, 20, 30))
  }

  test("EXCLUDE GROUP on a bounded ROWS frame intersects with the frame (DuckDB-pinned)") {
    setup()
    val r = rows("SELECT id, SUM(x) OVER (ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS s FROM fb2 ORDER BY id")
    assert(r.map(_(1)) == Seq(null, null, 40L, 30L, 60L, 50L))
  }

  test("EXCLUDE without ORDER BY: all rows are peers") {
    setup()
    // reference rule (test_window_exclude.test:255-287): GROUP empties
    // the frame, TIES keeps only the current row
    val g = rows("SELECT id, SUM(x) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS s FROM fb2 ORDER BY id")
    assert(g.map(_(1)) == Seq(null, null, null, null, null, null))
    val t = rows("SELECT id, SUM(x) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS s FROM fb2 ORDER BY id")
    assert(t.map(_(1)) == Seq(10L, 20L, 30L, 40L, 50L, 60L))
  }

  test("navigation + distinct-count under EXCLUDE (DuckDB-pinned)") {
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW fb3 AS SELECT * FROM (VALUES (1,1,'a'),(2,1,'b'),(3,1,'a'),(4,2,'c'),(5,2,'a'),(6,3,'b')) v(id,o,s)")
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW fb4 AS SELECT * FROM (VALUES (1,1,CAST(NULL AS STRING)),(2,2,'x'),(3,3,CAST(NULL AS STRING)),(4,4,'y')) v(id,o,s)")
    val cd = rows("SELECT id, COUNT(DISTINCT s) OVER (ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS c FROM fb3 ORDER BY id")
    assert(cd.map(_(1)) == Seq(1, 1, 2, 2, 2, 2))
    val nv = rows("SELECT id, NTH_VALUE(s, 2) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS v FROM fb3 ORDER BY id")
    assert(nv.map(_(1)) == Seq("a", "a", "a", "b", "b", "b"))
    val fv = rows("SELECT id, FIRST_VALUE(s IGNORE NULLS) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS v FROM fb4 ORDER BY id")
    assert(fv.map(_(1)) == Seq("x", "y", "x", "x"))
    // lead/lag navigate the partition — frame + exclusion are no-ops
    val ld = rows("SELECT id, LEAD(s) OVER (ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS v FROM fb4 ORDER BY id")
    assert(ld.map(_(1)) == Seq("x", null, "y", null))
  }

  test("EXCLUDE TIES keeps the current row IN PLACE for positional kernels (DuckDB-pinned)") {
    setup()
    // r10 ADVICE bug: the ties branch removed the whole peer group and
    // appended the current row's value at the END, so FIRST_VALUE over
    // [CURRENT ROW, UNBOUNDED FOLLOWING) returned the first non-peer
    // instead of the current row. Expectations = DuckDB 1.0.0.
    val f = rows("SELECT id, FIRST_VALUE(x) OVER (ORDER BY o ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS f FROM fb2 ORDER BY id")
    assert(f.map(_(1)) == Seq(10, 20, 30, 40, 50, 60))
    val l = rows("SELECT id, LAST_VALUE(x) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS f FROM fb2 ORDER BY id")
    assert(l.map(_(1)) == Seq(10, 20, 30, 40, 50, 60))
    val n2 = rows("SELECT id, NTH_VALUE(x, 2) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS f FROM fb2 ORDER BY id")
    assert(n2.map(_(1)) == Seq(40, 40, 40, 20, 20, 20))
    val ag = rows("SELECT id, ARRAY_AGG(x) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS f FROM fb2 ORDER BY id")
    assert(ag.map(_(1).asInstanceOf[scala.collection.Seq[Any]].toSeq) == Seq(
      Seq(10, 40, 50, 60), Seq(20, 40, 50, 60), Seq(30, 40, 50, 60),
      Seq(10, 20, 30, 40, 60), Seq(10, 20, 30, 50, 60), Seq(10, 20, 30, 40, 50, 60)))
  }

  test("constant ROWS offsets that are not INT literals (DuckDB-pinned)") {
    // Spark's ROWS frames take only INT constants: these are sliced per row
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW fb6 AS SELECT * FROM (VALUES (1), (2), (3)) v(x)")
    for (offset <- Seq("CAST(1 AS BIGINT)", "1.0"))
      assert(rows(s"SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN $offset PRECEDING AND CURRENT ROW) AS s " +
        "FROM fb6 ORDER BY x") === Seq(Seq(1, 1L), Seq(2, 3L), Seq(3, 5L)), offset)
    // an offset of 0 is the current row, also under EXCLUDE
    assert(rows("SELECT x, min(x) OVER (ORDER BY x ROWS BETWEEN 0 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW), " +
      "first_value(x) OVER (ORDER BY x ROWS BETWEEN 0 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) " +
      "FROM fb6 ORDER BY x") === Seq(Seq(1, 2, 2), Seq(2, 3, 3), Seq(3, null, null)))
  }

  test("integer window SUM is exact past 2^53 (no Double detour)") {
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW fb5 AS SELECT * FROM (VALUES (1, 9007199254740993), (2, 1), (3, 2)) v(i, x)")
    // DuckDB: 9007199254740993 + 1 = 9007199254740994 exactly; a
    // Double round-trip yields ...992 + 1
    val r = rows("SELECT i, SUM(x) OVER (ORDER BY i ROWS BETWEEN (i*0) PRECEDING AND (i*0+1) FOLLOWING) AS s FROM fb5 ORDER BY i")
    assert(r.map(_(1)) == Seq(9007199254740994L, 3L, 2L))
  }

  private def analyzed(q: String) = GraftSql.sql(spark, q).queryExecution.analyzed

  test("literal bounds stay on Spark's native window frames") {
    setup()
    def kernels(q: String) = analyzed(q).flatMap(_.expressions.flatMap(_.collect {
      case f: graft.operators.FrameAgg => f
    }))
    assert(kernels("SELECT SUM(x) OVER (ORDER BY i ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) FROM fb1").isEmpty)
    assert(kernels("SELECT SUM(x) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) FROM fb1").isEmpty)
  }

  test("r12: partition-sized collects are size-guarded and fail loudly past the cap") {
    setup()
    // the rule wraps every collect_list in FrameSizeGuard
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val plan = analyzed(
      "SELECT SUM(x) OVER (ORDER BY i ROWS BETWEEN (i%2) PRECEDING AND 0 FOLLOWING) FROM fb1")
    val collected = plan.flatMap {
      case w: Window => w.windowExpressions.collect {
        case a @ Alias(WindowExpression(AggregateExpression(_: CollectList, _, _, _, _), _), _) => a.exprId
      }
      case _ => Nil
    }.toSet
    val guarded = plan.flatMap(_.expressions.flatMap(_.collect {
      case g: graft.operators.FrameSizeGuard => g.child
    }))
    assert(guarded.nonEmpty && guarded.forall {
      case a: Attribute => collected(a.exprId)
      case _ => false
    })
    // guarded queries still answer (pass-through under the cap)
    val r = rows("SELECT i, SUM(x) OVER (ORDER BY i ROWS BETWEEN (i%2) PRECEDING AND 0 FOLLOWING) AS s FROM fb1 ORDER BY i")
    assert(r.map(_(1)) == Seq(10L, 20L, 50L, 40L, 90L))
    // the kernel trips exactly past MaxCollectedFrame with the shard
    // fallback in the message (cap-sized arrays pass)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val atCap = new GenericArrayData(new Array[Any](graft.operators.FrameKernel.MaxCollectedFrame))
    assert(graft.operators.FrameKernel.guardFrame(atCap) eq atCap)
    val past = new GenericArrayData(new Array[Any](graft.operators.FrameKernel.MaxCollectedFrame + 1))
    val e = intercept[IllegalStateException] { graft.operators.FrameKernel.guardFrame(past) }
    assert(e.getMessage.contains("re-key the window PARTITION BY"))
  }
}
