package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference fork's OWN SQL scripts (/root/reference/sql_files/
  * sml.sql, big.sql — DDL + INSERTs + its AM_US/theta-join workload
  * queries) run END TO END through the dialect front door, verbatim.
  * Expected rows for sml.sql were pinned by executing the same file
  * in DuckDB. Inline column constraints (PRIMARY KEY / NOT NULL) are
  * stripped by the DDL translation — the engine's constraint surface
  * is the audit/enforce layer (sources/Dml; u04/u07/u08).
  *
  * The scripts create tables named like the test fixtures (orders),
  * so the suite runs inside its own database and drops the
  * conflicting temp views first, re-registering them afterwards.
  */
class RefScriptSpec extends AnyFunSuite {
  import TestSession._

  private val dir = "/root/reference/sql_files"

  private def runScript(file: String): Seq[org.apache.spark.sql.DataFrame] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$file")))
    GraftSql.runScript(spark, text)
  }

  private def inScratchDb[T](body: => T): T = {
    // temp views shadow catalog tables regardless of current database
    graft.sources.Catalog.tableNames.foreach(spark.catalog.dropTempView(_))
    spark.sql("CREATE DATABASE IF NOT EXISTS refscript")
    spark.sql("USE refscript")
    Seq("stud", "enrol", "users", "products", "orders").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    try body
    finally {
      Seq("stud", "enrol", "users", "products", "orders").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.sql("USE default")
      graft.sources.Catalog.registerAll(spark, sfDir)
    }
  }

  test("sml.sql runs verbatim and matches the DuckDB-pinned results") {
    assumeFiles(Seq(s"$dir/sml.sql"))
    inScratchDb {
      val results = runScript("sml.sql")
      val selects = results.filter(_.schema.nonEmpty)
        .filter(df => df.columns.exists(c => c.contains("sid") || c.contains("cid")))
      // last three statements are the fork's queries Q1–Q3
      val q = results.takeRight(3).map(_.collect().map(r =>
        (r.get(0).toString.toInt, r.get(1).toString.toInt)).sorted.toSeq)
      assert(q(0) === Seq((101, 1), (101, 2), (102, 2), (102, 3), (103, 4), (105, 1), (108, 1)))
      assert(q(1) === Seq((102, 2), (102, 3), (103, 4), (105, 1)))
      assert(q(2) === Seq((1, 3), (2, 2), (3, 1), (4, 1)))
    }
  }

  test("big.sql DDL + theta-join workload runs verbatim (empty tables)") {
    assumeFiles(Seq(s"$dir/big.sql"))
    inScratchDb {
      val results = runScript("big.sql")
      // last four statements are queries A–D over the (unpopulated)
      // tables: correct schemas, zero rows, no analysis errors
      val q = results.takeRight(4)
      assert(q.map(_.columns.length).toSeq === Seq(2, 4, 3, 4))
      assert(q.forall(_.count() === 0L))
    }
  }
}
