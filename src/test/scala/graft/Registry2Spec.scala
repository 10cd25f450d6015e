package graft

import org.scalatest.funsuite.AnyFunSuite

/** Second-tranche reference names (plans/FunctionTable +
  * operators/HolisticAggs): every pinned value below was produced by
  * the same expression in DuckDB first (v1.0.0 locally where the
  * function exists; the binned-histogram family post-dates that
  * engine, so its pins are hand-traced from the reference's
  * binned_histogram.cpp lower_bound/other-bucket contract).
  */
class Registry2Spec extends AnyFunSuite {
  import TestSession._

  private def one(sql: String): Any =
    spark.sql(s"SELECT $sql").collect()(0).get(0)

  private def oneMap(sql: String): Map[Any, Long] =
    one(sql).asInstanceOf[Map[Any, Long]]

  test("histogram: distinct-value map, keys ascending, NULLs skipped") {
    assert(oneMap("histogram(x) FROM (VALUES ('b'),('a'),('a'),(NULL)) t(x)")
      === Map("a" -> 2L, "b" -> 1L))
    assert(oneMap("histogram(x) FROM (VALUES (3),(1),(1),(2)) t(x)")
      === Map(1 -> 2L, 2 -> 1L, 3 -> 1L))
    // all-NULL group: DuckDB yields an empty map
    assert(oneMap("histogram(x) FROM (VALUES (CAST(NULL AS INT))) t(x)") === Map())
  }

  test("histogram(x, bins): lower_bound bins + other bucket (binned_histogram.cpp)") {
    // 1,5 → bin 5; 10 → bin 10; 15 → overflow keyed MaxValue
    assert(oneMap("histogram(x, array(5, 10)) FROM (VALUES (1),(5),(10),(15)) t(x)")
      === Map(5 -> 2L, 10 -> 1L, Int.MaxValue -> 1L))
    // no overflow → no sentinel key; empty bins still reported
    assert(oneMap("histogram(x, array(5, 10)) FROM (VALUES (1),(2)) t(x)")
      === Map(5 -> 2L, 10 -> 0L))
    // bins arrive unsorted/duplicated → sorted + deduped at bind
    assert(oneMap("histogram(x, array(10, 5, 5)) FROM (VALUES (1),(7)) t(x)")
      === Map(5 -> 1L, 10 -> 1L))
    // double input: sentinel is +Infinity
    assert(oneMap("histogram(x, array(CAST(1.0 AS DOUBLE))) FROM (VALUES (CAST(0.5 AS DOUBLE)),(CAST(2.5 AS DOUBLE))) t(x)")
      === Map(1.0 -> 1L, Double.PositiveInfinity -> 1L))
    // decimal literals ride the double path; sentinel = all-nines max
    val dm = oneMap("histogram(x, array(1.0)) FROM (VALUES (0.5),(2.5)) t(x)")
    assert(dm.map { case (k, v) => (k.toString, v) }
      === Map("1.0" -> 1L, "9.9" -> 1L))
    // group with no non-NULL input → NULL (reference: bins never init)
    assert(one("histogram(x, array(1)) FROM (VALUES (CAST(NULL AS INT))) t(x)") === null)
  }

  test("histogram_exact: equality-only bins, '' sentinel for strings") {
    assert(oneMap("histogram_exact(x, array('a','b')) FROM (VALUES ('a'),('a'),('c')) t(x)")
      === Map("a" -> 2L, "b" -> 0L, "" -> 1L))
  }

  test("is_histogram_other_bin: sentinel probe per type") {
    assert(one("is_histogram_other_bin('')") === true)
    assert(one("is_histogram_other_bin('x')") === false)
    assert(one("is_histogram_other_bin(CAST('inf' AS DOUBLE))") === true)
    assert(one(s"is_histogram_other_bin(${Int.MaxValue})") === true)
    assert(one("is_histogram_other_bin(41)") === false)
  }

  test("entropy: Shannon bits (pinned 1.5 for {1,1,2,3})") {
    assert(one("entropy(x) FROM (VALUES (1),(1),(2),(3)) t(x)") === 1.5)
    assert(one("entropy(x) FROM (VALUES ('a'),('a')) t(x)") === 0.0)
  }

  test("mad: median absolute deviation, interpolated (pinned 4.5)") {
    assert(one("mad(x) FROM (VALUES (1.0),(2.0),(10.0),(110.0)) t(x)") === 4.5)
    // integer input promotes to double like the reference
    assert(one("mad(x) FROM (VALUES (1),(2),(10),(110)) t(x)") === 4.5)
    assert(one("mad(x) FROM (VALUES (CAST(NULL AS DOUBLE))) t(x)") === null)
  }

  test("quantile/quantile_disc: element at cume_dist >= q (pinned)") {
    assert(one("quantile(x, 0.5) FROM (VALUES (1.0),(2.0),(10.0),(11.0)) t(x)") === 2.0)
    assert(one("quantile(x, 0.3) FROM (VALUES (1.0),(2.0),(10.0),(11.0)) t(x)") === 2.0)
    assert(one("quantile_disc(x, 0.5) FROM (VALUES (1),(2),(10),(11)) t(x)") === 2.0)
  }

  test("bitstring_agg: explicit and observed extents (pinned)") {
    assert(one("bitstring_agg(x, 1, 8) FROM (VALUES (3),(5),(7)) t(x)") === "00101010")
    assert(one("bitstring_agg(x) FROM (VALUES (3),(5),(7)) t(x)") === "10101")
    // out-of-bounds value errors like the reference
    val err = intercept[Exception] {
      spark.sql("SELECT bitstring_agg(x, 1, 2) FROM (VALUES (5)) t(x)").collect()
    }
    assert(err.getMessage != null)
  }

  test("holistic aggregates survive partial aggregation and merge") {
    // force multi-partition partial/final paths through ser/de
    val df = spark.range(0, 1000).selectExpr("id % 7 AS g", "id % 13 AS v")
      .repartition(8)
    df.createOrReplaceTempView("r2merge")
    val rows = spark.sql(
      """SELECT g, histogram(v) AS h, entropy(v) AS e, mad(v) AS m,
        |       bitstring_agg(v, 0, 12) AS b,
        |       histogram(v, array(4, 8)) AS hb
        |FROM r2merge GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows.length === 7)
    val h0 = rows(0).getMap[Any, Long](1)
    assert(h0.values.sum === spark.sql(
      "SELECT COUNT(*) FROM r2merge WHERE g = 0").collect()(0).getLong(0))
    rows.foreach { r =>
      assert(r.getString(4).length === 13)
      val hb = r.getMap[Any, Long](5)
      assert(hb.keys.toSet.subsetOf(Set[Any](4L, 8L, Long.MaxValue)))
    }
  }

  test("age: f48 borrow rule through date_part (pinned 2y 4m 15d / 1y 1m 1d)") {
    assert(one("date_part('year', age(DATE '2025-06-15', DATE '2023-01-31'))") === 2)
    assert(one("date_part('month', age(DATE '2025-06-15', DATE '2023-01-31'))") === 4)
    assert(one("date_part('day', age(DATE '2025-06-15', DATE '2023-01-31'))") === 15)
    assert(one("date_part('year', age(DATE '2024-03-01', DATE '2023-01-31'))") === 1)
    assert(one("date_part('month', age(DATE '2024-03-01', DATE '2023-01-31'))") === 1)
    assert(one("date_part('day', age(DATE '2024-03-01', DATE '2023-01-31'))") === 1)
  }

  test("datesub: complete intervals, truncation toward zero (pinned)") {
    assert(one("datesub('month', DATE '2023-01-31', DATE '2023-02-28')") === 1L)
    assert(one("datesub('month', DATE '2023-01-31', DATE '2023-03-01')") === 1L)
    assert(one("datesub('month', DATE '2023-03-01', DATE '2023-01-31')") === -1L)
    assert(one("datesub('year', DATE '2023-06-15', DATE '2025-06-14')") === 1L)
    assert(one("datesub('day', TIMESTAMP '2023-01-31 10:00:00', TIMESTAMP '2023-02-01 09:00:00')") === 0L)
    assert(one("datesub('day', DATE '2023-01-31', DATE '2023-03-01')") === 29L)
  }

  test("path/binary/date scalars (pinned)") {
    assert(one("parse_dirname('/a/b/c.txt')") === "/")
    assert(one("parse_dirname('a/b/c.txt')") === "a")
    assert(one("parse_path('/a/b/c.txt')") === Seq("/", "a", "b", "c.txt"))
    assert(one("parse_path('a/b/c.txt')") === Seq("a", "b", "c.txt"))
    assert(one("lower(hex(unbin('101')))") === "05")
    assert(one("lower(hex(unbin('0000000101')))") === "0005")
    assert(one("lower(hex(from_binary('101')))") === "05")
    assert(one("era(DATE '2024-01-01')") === 1L)
    assert(one("julian(DATE '2024-01-01')") === 2460311.0)
    assert(one("timezone(TIMESTAMP '2024-01-01 10:00:00')") === 0L)
    assert(one("timezone_hour(TIMESTAMP '2024-01-01 10:00:00')") === 0L)
    assert(one("timezone_minute(TIMESTAMP '2024-01-01 10:00:00')") === 0L)
  }

  test("bitstring/get_bit/set_bit over the VARCHAR encoding (pinned)") {
    assert(one("bitstring('101', 8)") === "00000101")
    assert(one("get_bit(bitstring('101', 8), 5)") === 1)
    assert(one("get_bit(bitstring('101', 8), 4)") === 0)
    assert(one("set_bit(bitstring('101', 8), 7, 0)") === "00000100")
  }

  test("union accessors over the f47 struct encoding") {
    val u = "named_struct('tag', 'num', 'num', 1.5D, 'txt', CAST(NULL AS STRING))"
    assert(one(s"union_tag($u)") === "num")
    assert(one(s"union_extract($u, 'num')") === 1.5)
    assert(one(s"union_extract($u, 'txt')") === null)
  }

  test("equi_width_bins matches the Binning mirror; error() raises; sum_no_overflow sums") {
    assert(one("equi_width_bins(0, 100, 5, false)")
      .asInstanceOf[scala.collection.Seq[_]].toList === List(20L, 40L, 60L, 80L, 100L))
    assert(one("equi_width_bins(0, 100, 5, false)")
      .asInstanceOf[scala.collection.Seq[_]].toList
      === graft.plans.Binning.equiWidthBinsLong(0L, 100L, 5, nice = false).toList)
    assert(one("sum_no_overflow(x) FROM (VALUES (1),(2),(3)) t(x)") === 6L)
    val err = intercept[Exception] {
      spark.sql("SELECT error('boom')").collect()
    }
    assert(err.getMessage.contains("boom"))
  }
}
