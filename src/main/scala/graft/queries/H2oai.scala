package graft.queries

import graft.GraftSql
import graft.sources.Catalog

/** The h2oai (db-benchmark) groupby + join families from the
  * reference's benchmark tree
  * (/root/reference/benchmark/h2oai/{group,join}/queries/q*.sql),
  * read at runtime and run VERBATIM inside ONE statement per family
  * on BOTH engines.
  *
  * The benchmark's tables (x_group; x/small/medium/big) are
  * synthesized as WITH-clause views over the testdata with
  * closed-form arithmetic — one portable text. Unlike ClickBench's
  * tie-ambiguous top-Ns, these outputs are deterministic aggregates,
  * so the oracle checks VALUES: each query contributes
  * (qid, row count, fingerprint), where the fingerprint
  * integer-sums FLOOR(value·1000 + 0.5) of a designated numeric
  * output column — order-free (integer addition), NULL/NaN
  * normalized (Spark's zero-variance stddev/corr is NaN where the
  * reference's is NULL), and a 1e-3 grid coarse enough that the
  * engines' different stddev/corr summation orders cannot flip a
  * cell. v-columns are exact binary eighths, so sums and quantile
  * midpoints are bit-deterministic on both engines.
  */
object H2oai {

  private val base = "/root/reference/benchmark/h2oai"

  private def files(family: String, n: Int): Seq[String] =
    (1 to n).map(i => f"$base/$family/queries/q$i%02d.sql")

  private val groupFiles = files("group", 10)
  private val joinFiles = files("join", 5)

  private def texts(files: Seq[String]): Seq[String] = files.map { f =>
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))).trim
      .stripPrefix("CREATE TEMP TABLE ans AS").trim.stripSuffix(";")
  }

  private val groupView =
    """x_group AS (
      |  SELECT 'id' || CAST(event_id % 100 AS VARCHAR) AS id1,
      |         'id' || CAST(event_id % 1000 AS VARCHAR) AS id2,
      |         'id' || CAST(event_id AS VARCHAR) AS id3,
      |         CAST(event_id % 100 AS INTEGER) AS id4,
      |         CAST(event_id % 1000 AS INTEGER) AS id5,
      |         CAST(event_id % 10 AS INTEGER) AS id6,
      |         CAST(user_id % 5 + 1 AS INTEGER) AS v1,
      |         CAST(user_id % 15 + 1 AS INTEGER) AS v2,
      |         CAST(event_id % 997 AS DOUBLE) * 0.125 AS v3
      |  FROM events)""".stripMargin

  private val joinViews =
    """x AS (
      |  SELECT CAST(o_custkey % 10 AS INTEGER) AS id1,
      |         CAST(o_custkey % 100 AS INTEGER) AS id2,
      |         CAST(o_orderkey % 1000 AS INTEGER) AS id3,
      |         'id' || CAST(o_custkey % 10 AS VARCHAR) AS id4,
      |         'id' || CAST(o_custkey % 100 AS VARCHAR) AS id5,
      |         'id' || CAST(o_orderkey AS VARCHAR) AS id6,
      |         CAST(o_orderkey % 7 + 1 AS DOUBLE) * 0.125 AS v1
      |  FROM orders),
      |small AS (
      |  SELECT CAST(r_regionkey AS INTEGER) AS id1,
      |         'id' || CAST(r_regionkey AS VARCHAR) AS id4,
      |         CAST(r_regionkey + 1 AS DOUBLE) * 0.25 AS v2
      |  FROM region),
      |medium AS (
      |  SELECT CAST(n_nationkey AS INTEGER) AS id1,
      |         CAST(n_nationkey * 4 AS INTEGER) AS id2,
      |         'id' || CAST(n_nationkey AS VARCHAR) AS id4,
      |         'id' || CAST(n_nationkey * 4 AS VARCHAR) AS id5,
      |         CAST(n_nationkey + 1 AS DOUBLE) * 0.125 AS v2
      |  FROM nation),
      |big AS (
      |  SELECT CAST(c_custkey % 1000 AS INTEGER) AS id3,
      |         CAST(c_custkey % 10 AS INTEGER) AS id1,
      |         CAST(c_custkey % 100 AS INTEGER) AS id2,
      |         'id' || CAST(c_custkey % 10 AS VARCHAR) AS id4,
      |         'id' || CAST(c_custkey % 100 AS VARCHAR) AS id5,
      |         'id' || CAST(c_custkey AS VARCHAR) AS id6,
      |         CAST(c_custkey % 9 + 1 AS DOUBLE) * 0.125 AS v2
      |  FROM customer)""".stripMargin

  private def fingerprint(qid: Int, text: String, fpCol: String): String =
    s"""SELECT $qid AS qid, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN $fpCol IS NULL OR isnan(CAST($fpCol AS DOUBLE)) THEN 0
       |       ELSE CAST(FLOOR(CAST($fpCol AS DOUBLE) * 1000 + 0.5) AS BIGINT) END) AS BIGINT) AS fp
       |FROM (
       |$text
       |) __q$qid""".stripMargin

  private def sweep(views: String, qs: Seq[(String, String)]): String = {
    val parts = qs.zipWithIndex.map { case ((text, fpCol), i) =>
      fingerprint(i + 1, text, fpCol)
    }
    s"WITH $views\nSELECT * FROM (\n${parts.mkString("\nUNION ALL\n")}\n) ORDER BY qid"
  }

  private lazy val groupSweep = sweep(groupView,
    texts(groupFiles).zip(Seq(
      "v1", "v1", "v3", "v3", "v3", "sd_v3", "range_v1_v2",
      "largest2_v3", "r2", "v3")))

  private lazy val joinSweep = sweep(joinViews,
    texts(joinFiles).map((_, "v2")))

  val defs: Seq[QDef] = Seq(
    QDef.sql("h2o_group_sweep", groupSweep, groupFiles) { (s, dir) =>
      Catalog.registerAll(s, dir)
      GraftSql.sql(s, groupSweep)
    },
    QDef.sql("h2o_join_sweep", joinSweep, joinFiles) { (s, dir) =>
      Catalog.registerAll(s, dir)
      GraftSql.sql(s, joinSweep)
    }
  )
}
