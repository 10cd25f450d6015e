package graft

import org.scalatest.funsuite.AnyFunSuite

/** Name-level alias surface (plans/FunctionTable): every check value
  * below was pinned by running the same expression in DuckDB first —
  * the alias must reproduce the reference's output, not just parse.
  */
class AliasesSpec extends AnyFunSuite {
  import TestSession._

  private def one(sql: String): Any =
    spark.sql(s"SELECT $sql").collect()(0).get(0)

  test("string aliases match reference values") {
    assert(one("sha256('abc')") ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(one("starts_with('abcd','ab')") === true)
    assert(one("strpos('hello','ll')") === 3)
    assert(one("strpos('hello','x')") === 0)
    assert(one("string_split('a.b.c','.')") === Seq("a", "b", "c"))
    assert(one("str_split_regex('a1b22c','[0-9]+')") === Seq("a", "b", "c"))
    assert(one("regexp_split_to_array('a b  c','\\\\s+')") === Seq("a", "b", "c"))
    assert(one("upper(to_hex(255))") === "FF")
    assert(one("cast(from_hex('616263') as string)") === "abc")
    assert(one("to_base64(cast('abc' as binary))") === "YWJj")
    assert(one("cast(from_base64('YWJj') as string)") === "abc")
    assert(one("ord('a')") === 97)
    assert(one("ord('€')") === 8364)
    assert(one("editdist3('kitten','sitting')") === 3)
    assert(one("regexp_escape('a.b')") === "a\\.b")
    assert(one("parse_filename('/a/b/c.txt')") === "c.txt")
    assert(one("parse_filename('c:\\\\x\\\\y.bin')") === "y.bin")
    assert(one("parse_dirpath('/a/b/c.txt')") === "/a/b")
  }

  test("date/time aliases match reference values") {
    assert(one("week(DATE '2026-01-01')") === 1)
    assert(one("microsecond(TIMESTAMP '2026-01-01 01:02:03.123456')") === 3123456L)
    assert(one("millisecond(TIMESTAMP '2026-01-01 01:02:03.123456')") === 3123L)
    assert(one("epoch(TIMESTAMP '2026-01-01 01:02:03.5')") === 1.7672293235e9)
    assert(one("epoch_us(TIMESTAMP '2026-01-01 01:02:03.5')") === 1767229323500000L)
    assert(one("epoch_ns(TIMESTAMP '2026-01-01 01:02:03.5')") === 1767229323500000000L)
    assert(one("cast(datetrunc('month', TIMESTAMP '2026-08-14 05:06:07') as date)").toString
      === "2026-08-01")
    assert(one("DATE '2026-01-31' + to_days(5)").toString === "2026-02-05 00:00:00.0")
    assert(one("DATE '2026-01-31' + to_years(2)").toString === "2028-01-31")
    assert(one("DATE '2026-01-31' + to_months(1)").toString === "2026-02-28")
    assert(one("strftime(TIMESTAMP '2026-08-14 05:06:07', '%Y-%m-%dT%H:%M:%S')")
      === "2026-08-14T05:06:07")
    assert(one("strptime('2026-08-14 05:06', '%Y-%m-%d %H:%M')").toString
      === "2026-08-14 05:06:00.0")
    assert(one("try_strptime('garbage', '%Y-%m-%d')") === null)
  }

  test("list and map aliases match reference values") {
    assert(one("list_transform(array(1,2), x -> x * 2)") === Seq(2, 4))
    assert(one("array_apply(array(1,2), x -> x + 1)") === Seq(2, 3))
    assert(one("list_filter(array(1,2,3), x -> x > 1)") === Seq(2, 3))
    assert(one("list_reduce(array(1,2,3), (a,b) -> a + b)") === 6)
    assert(one("list_pack(7,8)") === Seq(7, 8))
    assert(one("sort_array(list_distinct(array(1,2,2,NULL)))") === Seq(1, 2))
    assert(one("array_unique(array(1,2,2,NULL))") === 2L)
    assert(one("list_has_all(array(1,2,3), array(2,3))") === true)
    assert(one("list_has_all(array(1), array(2))") === false)
    assert(one("list_has_any(array(1,2), array(2,9))") === true)
    assert(one("list_reverse_sort(array(3,1,2))") === Seq(3, 2, 1))
    assert(one("list_grade_up(array(30,10,20))") === Seq(2, 3, 1))
    assert(one("generate_series(1,5,2)") === Seq(1, 3, 5))
    assert(one("xor(5,3)") === 6)
    assert(one("map_contains(map('a',1), 'a')") === true)
    assert(one("map_extract(map('a',1), 'a')") === Seq(1))
    assert(one("map_extract(map('a',1), 'z')") === Seq())
  }

  test("aggregate aliases match reference values") {
    import spark.implicits._
    Seq(("a", 1.0), ("b", 3.0), ("c", 2.0)).toDF("x", "y").createOrReplaceTempView("t")
    assert(one("(SELECT arg_max(x, y) FROM t)") === "b")
    assert(one("(SELECT arg_min(x, y) FROM t)") === "a")
    assert(math.abs(one("(SELECT sem(y) FROM t)").asInstanceOf[Double]
      - 0.5773502691896258) < 1e-12)
    assert(one("(SELECT favg(y) FROM t)") === 2.0)
    assert(one("(SELECT group_concat(x) FROM t)") === "a,b,c")
    assert(one("(SELECT group_concat(x, '|') FROM t)") === "a|b|c")
    assert(one("(SELECT quantile_cont(y, 0.5) FROM t)") === 2.0)
    // kurtosis_pop on {1,2,3,10}: DuckDB = -0.7696
    Seq(1.0, 2.0, 3.0, 10.0).toDF("v").createOrReplaceTempView("k")
    assert(math.abs(one("(SELECT kurtosis_pop(v) FROM k)").asInstanceOf[Double]
      - (-0.7696)) < 1e-10)
    assert(one("(SELECT product(v) FROM k)") === 60.0)
    // reference arg_max SKIPS NULL arguments; arg_max_null keeps them
    Seq((Some("a"), 1), (None, 3)).toDF("x", "y").createOrReplaceTempView("n")
    assert(one("(SELECT arg_max(x, y) FROM n)") === "a")
    assert(one("(SELECT arg_max_null(x, y) FROM n)") === null)
  }

  test("vector/list arithmetic and misc aliases match reference values") {
    assert(one("list_dot_product(array(1.0,2.0), array(3.0,4.0))") === 11.0)
    assert(one("list_negative_inner_product(array(1.0,2.0), array(3.0,4.0))") === -11.0)
    assert(one("list_cosine_similarity(array(1.0,0.0), array(1.0,0.0))") === 1.0)
    assert(one("list_cosine_distance(array(1.0,0.0), array(0.0,1.0))") === 1.0)
    assert(one("list_distance(array(0.0,0.0), array(3.0,4.0))") === 5.0)
    // DuckDB: array_cross_product([1,2,3],[4,5,6]) = [-3, 6, -3]
    assert(one("array_cross_product(array(1.0,2.0,3.0), array(4.0,5.0,6.0))")
      === Seq(-3.0, 6.0, -3.0))
    assert(one("list_slice(array(1,2,3,4), 2, 3)") === Seq(2, 3))
    assert(one("list_aggr(array(1,2,3), 'sum')") === 6L)
    assert(one("unpivot_list(1,2)") === Seq(1, 2))
    assert(one("format('{} x {}', 1, 'a')") === "1 x a")
    assert(one("format('{1}-{0}', 'a', 'b')") === "b-a")
    assert(one("formatReadableSize(1000000)") === "976.5 KiB")
    assert(one("millennium(DATE '1999-12-31')") === 2)
    assert(one("millennium(DATE '2000-01-01')") === 2)
    assert(one("millennium(DATE '2026-01-01')") === 3)
    assert(one("time_bucket(INTERVAL '15 minutes', TIMESTAMP '2026-08-14 05:07:33')").toString
      === "2026-08-14 05:00:00.0")
  }

}
