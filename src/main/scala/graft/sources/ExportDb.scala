package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.queries.DuckTypes

/** EXPORT DATABASE / IMPORT DATABASE (reference
  * src/parser/statement/export_statement.cpp and
  * src/catalog/default/default_functions — the `EXPORT DATABASE
  * 'dir' (FORMAT PARQUET)` / `IMPORT DATABASE 'dir'` pair): every
  * table lands as one parquet directory plus a human-readable
  * `schema.sql` of CREATE TABLE statements (reference type names) and
  * a `load.sql` of COPY statements — the same three artifacts the
  * reference emits, so an exported graft catalog is inspectable by
  * the same tooling.
  *
  * Scale posture: each table export is an ordinary distributed
  * parquet write (parallelism = the table's partitioning); the only
  * driver-side work is writing the two small SQL text files. Import
  * is lazy — tables re-register as views over the exported parquet,
  * no data moves until a query runs.
  */
object ExportDb {

  private def ddl(name: String, df: DataFrame): String =
    df.schema.fields
      .map(f => s"  ${f.name} ${DuckTypes.name(f.dataType)}")
      .mkString(s"CREATE TABLE $name (\n", ",\n", "\n);")

  /** Export `tables` under `dir`: one parquet directory per table +
    * schema.sql + load.sql.
    */
  def exportDatabase(tables: Map[String, DataFrame], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val names = tables.keys.toSeq.sorted
    names.foreach { n =>
      tables(n).write.mode(SaveMode.Overwrite).parquet(s"$dir/$n.parquet")
    }
    val schemaSql = names.map(n => ddl(n, tables(n))).mkString("", "\n", "\n")
    val loadSql = names
      .map(n => s"COPY $n FROM '$dir/$n.parquet' (FORMAT PARQUET);")
      .mkString("", "\n", "\n")
    Files.write(Paths.get(dir, "schema.sql"),
      schemaSql.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(dir, "load.sql"),
      loadSql.getBytes(StandardCharsets.UTF_8))
  }

  /** Import an exported directory: every `<name>.parquet` re-registers
    * as a temp view `<name>`, returned by name. Listing is one driver
    * directory read of table-count entries — the data itself is lazy.
    */
  def importDatabase(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val entries = Files.list(Paths.get(dir)).toArray.toSeq
      .map(_.toString)
      .filter(_.endsWith(".parquet"))
      .sorted
    entries.map { p =>
      val name = Paths.get(p).getFileName.toString.stripSuffix(".parquet")
      val df = Catalog.parquet(spark, p)
      df.createOrReplaceTempView(name)
      name -> df
    }.toMap
  }

  /** The exported DDL text (what schema.sql holds) — for specs. */
  def schemaSql(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "schema.sql")),
      StandardCharsets.UTF_8)
}
