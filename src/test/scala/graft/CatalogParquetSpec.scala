package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tpch
import graft.sources.Catalog

/** `Catalog.parquet` reads the schema from one footer on the driver
  * instead of Spark's inference job; every read it builds must resolve
  * to exactly the schema `spark.read.parquet` infers, and must fail
  * the same way where inference fails.
  */
class CatalogParquetSpec extends AnyFunSuite {
  import TestSession._

  private val scales = Seq(sfDir, sfDir.stripSuffix("sf0.001") + "sf0.01")

  private def assertParity(paths: String*): Unit =
    assert(Catalog.parquet(spark, paths: _*).schema === spark.read.parquet(paths: _*).schema,
      paths.mkString(", "))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  for (dir <- scales) {
    test(s"every table's schema matches Spark's inference (${dir.split('/').last})") {
      Catalog.tableNames.filterNot(_ == "events").foreach(n => assertParity(s"$dir/$n.parquet"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
        val events = s"$dir/events.parquet"
        assertParity(events)
        val viaTable = Catalog.table(spark, dir, "events").schema
        assert(viaTable.fieldNames.toSeq === spark.read.parquet(events).schema.fieldNames.toSeq)
        assert(viaTable("ts").dataType === TimestampType)
      }
    }

    test(s"tpch_q3 rows match through both read paths (${dir.split('/').last})") {
      val viaCatalog = Tpch.defs.find(_.name == "tpch_q3").get.fn(spark, dir)
      val viaSpark = Tpch.q3Plan(n => spark.read.parquet(s"$dir/$n.parquet"))
      assert(viaCatalog.schema === viaSpark.schema)
      assert(viaCatalog.exceptAll(viaSpark).isEmpty)
      assert(viaSpark.exceptAll(viaCatalog).isEmpty)
      assert(viaCatalog.count() === viaSpark.count())
    }
  }

  test("partitioned layout: partition column appended after the footer's columns") {
    val path = tmpDir("graft_cat_part")
    Catalog.table(spark, scales.head, "orders")
      .write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(path)
    assertParity(path)
    assert(Catalog.parquet(spark, path).schema.fieldNames.last === "o_orderstatus")
  }

  test("hidden files and directories below the root are skipped") {
    import spark.implicits._
    val path = tmpDir("graft_cat_hidden")
    Seq((1L, "a")).toDF("k", "v").write.mode(SaveMode.Overwrite).parquet(path)
    // sorted by path, each of these precedes the data files; Spark's
    // file index never lists them, so their other schema must not leak
    // (their _SUCCESS markers go, or an unreadable footer would only
    // send the read to Spark's own inference)
    for (hidden <- Seq(".graft_trash/sec1", "_temporary/0")) {
      Seq(1.5).toDF("other").write.mode(SaveMode.Overwrite).parquet(s"$path/$hidden")
      Files.delete(java.nio.file.Paths.get(path, hidden, "_SUCCESS"))
    }
    assertParity(path)
    assert(Catalog.parquet(spark, path).schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("a table after an UPDATE in an open transaction (trash present)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS catpq")
    spark.sql("USE catpq")
    spark.sql("DROP TABLE IF EXISTS tt")
    try {
      GraftSql.runScript(spark,
        """CREATE OR REPLACE TABLE tt (x INTEGER, y DOUBLE);
          |INSERT INTO tt VALUES (1, 10.0), (2, 20.0)""".stripMargin)
      GraftSql.sql(spark, "BEGIN")
      GraftSql.sql(spark, "UPDATE tt SET y = y + 1 WHERE x = 1")
      val path = graft.sources.DmlSql.tablePath(spark, "tt")
      assert(new java.io.File(new java.net.URI(path).getPath, ".graft_trash").isDirectory)
      assertParity(path)
      assert(Catalog.parquet(spark, path).count() === 2L)
    } finally {
      if (graft.sources.Txn.isActive) graft.sources.Txn.rollback(spark)
      spark.sql("DROP TABLE IF EXISTS tt")
      spark.sql("USE default")
    }
  }

  test("mergeSchema on falls back to Spark's merging inference") {
    import spark.implicits._
    val path = tmpDir("graft_cat_merge")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$path/p=1")
    Seq((2L, 2.5)).toDF("k", "w").write.parquet(s"$path/p=2")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assertParity(path)
      assert(Catalog.parquet(spark, path).schema.fieldNames.toSet === Set("k", "v", "w", "p"))
    }
  }

  test("missing path and empty directory fail like Spark") {
    def failure(read: => DataFrame): Class[_] =
      intercept[Exception](read.schema).getClass
    val missing = tmpDir("graft_cat_missing") + "/nope"
    val empty = tmpDir("graft_cat_empty")
    for (p <- Seq(missing, empty))
      assert(failure(Catalog.parquet(spark, p)) === failure(spark.read.parquet(p)), p)
  }
}
