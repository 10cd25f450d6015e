package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.plans.{DuckDialect => DuckDialectRef}

/** The reference's remaining top-level statement verbs
  * (src/parser/statement/{set,pragma,call,vacuum,prepare,execute,
  * copy,attach,detach}_statement.cpp) routed to their engine
  * analogs. Each mapping is stated honestly where the analog
  * diverges; every route returns the reference's result shape
  * (Count for COPY, empty for the rest, rows for PRAGMAs that
  * report).
  */
object StatementSurface {

  // ---------------------------------------------------------- regexes
  val SetRe = """(?is)^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?([\w.]+)\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*$""".r
  val ResetRe = """(?is)^\s*RESET\s+([\w.]+)\s*;?\s*$""".r
  val PragmaCall = """(?is)^\s*PRAGMA\s+(\w+)\s*\(\s*'?([^')]*?)'?\s*\)\s*;?\s*$""".r
  val PragmaAssign = """(?is)^\s*PRAGMA\s+(\w+)\s*=\s*(.+?)\s*;?\s*$""".r
  val PragmaBare = """(?is)^\s*PRAGMA\s+(\w+)\s*;?\s*$""".r
  val CallRe = """(?is)^\s*CALL\s+(\w+)\s*\(\s*'?([^')]*?)'?\s*\)\s*;?\s*$""".r
  val VacuumRe = """(?is)^\s*VACUUM\s*(\S*?)\s*;?\s*$""".r
  val PrepareRe = """(?is)^\s*PREPARE\s+(\w+)\s+AS\s+(.+)$""".r
  val ExecuteRe = """(?is)^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$""".r
  val DeallocRe = """(?is)^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*$""".r
  val AttachRe = """(?is)^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'\s+AS\s+(\w+)\s*(?:\([^)]*\))?\s*;?\s*$""".r
  val DetachRe = """(?is)^\s*DETACH\s+(?:DATABASE\s+)?(\w+)\s*;?\s*$""".r
  // COPY FROM DATABASE a TO b [(DATA|SCHEMA)] — reference
  // copy_database_statement.cpp. Must match before CopyTo/CopyFrom.
  val CopyDbRe =
    """(?is)^\s*COPY\s+FROM\s+DATABASE\s+(\w+)\s+TO\s+(\w+)\s*(?:\(\s*(DATA|SCHEMA)\s*\))?\s*;?\s*$""".r

  val CopyToRe = """(?is)^\s*COPY\s+(.+?)\s+TO\s+'([^']+)'\s*(?:\(([^)]*)\)|WITH\s*\(([^)]*)\))?\s*;?\s*$""".r
  val CopyFromRe = """(?is)^\s*COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:\(([^)]*)\)|WITH\s*\(([^)]*)\))?\s*;?\s*$""".r

  // prepared statements (reference prepare_statement.cpp): the text
  // is stored verbatim; EXECUTE substitutes $n / ? placeholders
  // textually and re-enters the front door — the same
  // inline-at-execute model the macro surface uses
  private val prepared = new ConcurrentHashMap[String, String]()

  def prepare(name: String, text: String): Unit =
    prepared.put(name.toLowerCase, text.trim.stripSuffix(";"))

  def deallocate(name: String): Unit = prepared.remove(name.toLowerCase)

  def executeText(name: String, argsRaw: Option[String]): String = {
    val text = Option(prepared.get(name.toLowerCase)).getOrElse(
      throw new IllegalArgumentException(s"EXECUTE: no prepared statement '$name'"))
    val args = argsRaw.map(a =>
      graft.sources.DmlSql.topSplit(a, ',')).getOrElse(Nil)
    // $n placeholders: single left-to-right scan, longest number wins
    // (sequential String.replace of "$1" would corrupt "$10" into
    // arg1 followed by '0'), and string-literal spans are skipped —
    // same discipline as the '?' branch below.
    var out = {
      val sb = new StringBuilder
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c == '\'') {
          sb += c; i += 1
          while (i < text.length && text.charAt(i) != '\'') { sb += text.charAt(i); i += 1 }
          if (i < text.length) { sb += '\''; i += 1 }
        } else if (c == '$' && i + 1 < text.length && text.charAt(i + 1).isDigit) {
          var j = i + 1
          while (j < text.length && text.charAt(j).isDigit) j += 1
          val idx = text.substring(i + 1, j).toInt
          if (idx >= 1 && idx <= args.length) { sb ++= args(idx - 1); i = j }
          else { sb += c; i += 1 }
        } else { sb += c; i += 1 }
      }
      sb.toString
    }
    // positional `?` placeholders, outside string literals
    if (args.nonEmpty && out.contains("?")) {
      val sb = new StringBuilder
      var i = 0
      var n = 0
      while (i < out.length) {
        val c = out.charAt(i)
        if (c == '\'') {
          sb += c; i += 1
          while (i < out.length && out.charAt(i) != '\'') { sb += out.charAt(i); i += 1 }
          if (i < out.length) { sb += '\''; i += 1 }
        } else if (c == '?' && n < args.length) {
          sb ++= args(n); n += 1; i += 1
        } else { sb += c; i += 1 }
      }
      out = sb.toString
    }
    out
  }

  // ---------------------------------------------------------- helpers

  def emptyDf(spark: SparkSession): DataFrame = spark.emptyDataFrame

  def countDf(spark: SparkSession, n: Long): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(Row(n)),
      StructType(Seq(StructField("Count", LongType, nullable = false))))

  def stripQuotes(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'') t.substring(1, t.length - 1)
    else t
  }

  /** DuckDB setting names with a real Spark analog; everything else
    * stores under its own name (current_setting() reads it back from
    * the session conf either way).
    */
  def confKey(name: String): String = name.toLowerCase match {
    case "timezone"                  => "spark.sql.session.timeZone"
    case "threads" | "worker_threads" => "spark.sql.shuffle.partitions"
    case other                       => other
  }

  /** COPY ... TO: write `df` as ONE file at `target` like the
    * reference does — Spark writes a directory, so the single part
    * file is moved onto the target path afterwards. Fine for the
    * statement's export use; a 100 TB export would drop the
    * coalesce(1) and take the directory layout.
    */
  def copyTo(spark: SparkSession, df: DataFrame, target: String,
             opts: String): DataFrame = {
    val o = opts.toUpperCase
    val fmt =
      if (o.contains("PARQUET") || target.endsWith(".parquet")) "parquet"
      else if (o.contains("JSON") || target.endsWith(".json")) "json"
      else "csv"
    val header = fmt != "csv" || o.contains("HEADER")
    val n = df.count()
    val tmp = target + "__copy_tmp"
    val w = df.coalesce(1).write.mode("overwrite")
    (fmt match {
      case "csv" => w.option("header", header.toString).format("csv")
      case f     => w.format(f)
    }).save(tmp)
    val hfs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = {
      val it = hfs.listFiles(new Path(tmp), false)
      var found: Path = null
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !st.getPath.getName.startsWith("_")) found = st.getPath
      }
      require(found != null, s"COPY TO: no output part file under $tmp")
      found
    }
    hfs.delete(new Path(target), false)
    require(hfs.rename(part, new Path(target)), s"COPY TO: rename to $target failed")
    hfs.delete(new Path(tmp), true)
    countDf(spark, n)
  }

  /** COPY t FROM: read the file in the stated format and append into
    * the catalog table (schema taken from the table, like the
    * reference's bind-by-position).
    */
  def copyFrom(spark: SparkSession, table: String, source: String,
               opts: String): DataFrame = {
    val o = opts.toUpperCase
    val target = spark.table(table)
    val fmt =
      if (o.contains("PARQUET") || source.endsWith(".parquet")) "parquet"
      else if (o.contains("JSON") || source.endsWith(".json")) "json"
      else "csv"
    val reader = spark.read
    val raw = fmt match {
      case "csv" => reader
        .option("header", o.contains("HEADER").toString)
        .schema(target.schema)
        .csv(source)
      case "json" => reader.schema(target.schema).json(source)
      case _ => graft.sources.Catalog.parquet(spark, source)
    }
    val aligned = raw.toDF(target.columns.toIndexedSeq: _*)
      .select(target.columns.map(c =>
        org.apache.spark.sql.functions.col(s"`$c`")
          .cast(target.schema(c).dataType).as(c)).toIndexedSeq: _*)
    val n = aligned.count()
    aligned.write.mode("append").insertInto(table)
    spark.catalog.refreshTable(table)
    countDf(spark, n)
  }

  // ------------------------------------------------- ALTER TABLE

  val AlterAdd =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(.+?)(?:\s+DEFAULT\s+(.+?))?\s*;?\s*$""".r
  val AlterDrop =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+(?:COLUMN\s+)?(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""".r
  val AlterRenameCol =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?\s*$""".r

  /** Map a DuckDB type spelling through the dialect's type table. */
  def mapType(ty: String): String = {
    val out = DuckDialectRef.translate(s"SELECT CAST(NULL AS $ty)")
    out.stripPrefix("SELECT CAST(NULL AS ").stripSuffix(")")
  }

  /** ALTER TABLE column surgery (reference alter_statement.cpp) on a
    * v1 parquet table, which Spark cannot mutate in place: the table
    * is rewritten through a staging table and swapped by rename —
    * the same one-full-rewrite cost the reference's ALTER pays when
    * it can't do it as a metadata change. ADD COLUMN fills the
    * DEFAULT (NULL when absent) for existing rows.
    */
  def alterRewrite(spark: SparkSession, table: String,
                   f: DataFrame => DataFrame): DataFrame = {
    val tmp = s"${table}__alter_build"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    f(spark.table(table)).write.format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.catalog.refreshTable(table)
    emptyDf(spark)
  }

  /** COPY FROM DATABASE a TO b: every table of `a` copies into `b`
    * (reference copy_database_statement.cpp; test/sql/copy_database).
    * DATA (the default) is a per-table CTAS; SCHEMA creates the
    * tables empty. Views in the source database materialize as
    * tables in the target (a copied database has no reference to the
    * source's base tables — the reference copies view DEFINITIONS,
    * which Spark's catalog cannot retarget; documented divergence).
    * Returns a one-row Count of copied tables.
    */
  def copyDatabase(spark: SparkSession, from: String, to: String,
                   mode: String): DataFrame = {
    require(spark.catalog.databaseExists(from),
      s"COPY FROM DATABASE: no database '$from'")
    if (!spark.catalog.databaseExists(to))
      spark.sql(s"CREATE DATABASE `$to`")
    // listTables mixes session TEMP views into every database listing
    // — only the database's own tables/views copy
    val tables = spark.catalog.listTables(from).collect()
      .filterNot(_.tableType == "TEMPORARY")
    tables.foreach { t =>
      val where = if (mode.equalsIgnoreCase("SCHEMA")) " WHERE 1=0" else ""
      spark.sql(s"DROP TABLE IF EXISTS `$to`.`${t.name}`")
      spark.sql(
        s"CREATE TABLE `$to`.`${t.name}` AS SELECT * FROM `$from`.`${t.name}`$where")
    }
    countDf(spark, tables.length.toLong)
  }

  /** PRAGMA / CALL report surfaces. */
  def pragmaReport(spark: SparkSession, name: String, arg: String): Option[DataFrame] =
    name.toLowerCase match {
      case "table_info" | "pragma_table_info" =>
        Some(graft.GraftSql.describe(spark, spark.table(arg)))
      case "show_tables" | "pragma_show_tables" =>
        val rows = spark.catalog.listTables().collect().map(t => Row(t.name)).toSeq
        Some(spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          StructType(Seq(StructField("name", StringType, nullable = false)))))
      case "version" | "pragma_version" =>
        Some(spark.createDataFrame(
          java.util.Arrays.asList(Row("graft-spark", spark.version)),
          StructType(Seq(
            StructField("library_version", StringType, nullable = false),
            StructField("source_id", StringType, nullable = false)))))
      case "database_size" =>
        Some(spark.createDataFrame(
          java.util.Arrays.asList(Row(0L)),
          StructType(Seq(StructField("database_size", LongType, nullable = false)))))
      case _ => None
    }
}
