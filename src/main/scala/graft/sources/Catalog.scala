package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table loaders + temp-view registry for the test star schema, and
  * the engine's one parquet read path ([[parquet]]) and table-file
  * listing ([[dataFiles]]).
  *
  * All readers are plain declarative parquet scans so Catalyst gets
  * filter pushdown / column pruning for free (verify with
  * `.explain("formatted")`: PushedFilters + narrowed ReadSchema).
  */
object Catalog {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor
    * (region/nation are fixed-size; supplier/part/customer grow slowly
    * vs. the fact tables — on a real 100 TB deployment customer moves
    * to the shuffle side and AQE decides from runtime stats).
    */
  val broadcastDims: Set[String] = Set("region", "nation", "supplier", "part")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else parquet(spark, s"$sfDir/$name.parquet")

  /** The engine's one parquet read path. Rule: building a DataFrame
    * never runs a Spark job — the reference binds a table from catalog
    * metadata, and so does this.
    *
    * `spark.read.parquet(paths)` infers the schema with a one-task job
    * (Spark reads even a single footer through the scheduler, the
    * Hadoop conf serialized into the task). Here the driver lists the
    * paths, picks the file Spark's own inference would read with
    * mergeSchema off — by sorted path string, `_common_metadata`, else
    * `_metadata`, else the first data file — reads that one footer and
    * converts it with Spark's converter under the session's conf (the
    * Spark schema stored in the footer, nanosAsLong, timestamp-NTZ
    * inference, binary/INT96 settings). The read then carries that
    * schema, so Spark's data source resolves it without inference.
    * Partition columns are still discovered from the directory layout
    * and appended, exactly as in an inferred read.
    *
    * Each call reads one footer (about 1 ms on local disk), so a table
    * rewritten by DML is never served a stale schema. Whenever the
    * driver-side read cannot stand in for Spark's exactly, the call is
    * plain `spark.read.parquet(paths)`, with Spark's own merge, errors
    * and ignoreCorruptFiles behaviour: `spark.sql.parquet.mergeSchema`
    * on, a glob path, a missing path or one with no data file, or a
    * footer read that throws.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    // SparkHadoopUtil.isGlobPath's character set
    if (paths.isEmpty || conf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val files = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(hconf)
        leafFiles(fs, fs.getFileStatus(path))
      }.sortBy(_.getPath.toString)
      val (summaries, data) = files.partition(isSummary)
      if (data.isEmpty) return None
      val pick = SummaryFiles.flatMap(n => summaries.find(_.getPath.getName == n))
        .headOption.getOrElse(data.head)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(pick, hconf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(pick.getPath, footer), new ParquetToSparkSchemaConverter(conf)))
    } catch { case NonFatal(_) => None }
  }

  /** The data files Spark's file index reads under `path` (see
    * [[leafFiles]]; summary files are metadata, not data), qualified;
    * empty when `path` does not exist. The DML and transaction layers
    * list tables through this, so they rewrite and snapshot exactly
    * the files a read sees.
    */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else leafFiles(fs, fs.getFileStatus(fs.makeQualified(p))).filterNot(isSummary)
  }

  private def isSummary(f: FileStatus): Boolean = SummaryFiles.contains(f.getPath.getName)

  /** The files Spark's file index lists for `st`: it lists a directory
    * recursively and drops the names HadoopFSUtils.shouldFilterOutPathName
    * drops — hidden `_`/`.` names (a `_` name holding `=` is a
    * partition directory) and in-flight `._COPYING_` files, but never
    * the parquet summary files. A root directory's own name is never
    * checked; a root file's is.
    */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    (if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filterNot(c => hiddenName(c.getPath.getName))
      .flatMap(c => if (c.isDirectory) leafFiles(fs, c) else Seq(c))

  private def hiddenName(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
      !SummaryFiles.exists(n.startsWith)

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read it as raw nanos (legacy long mode) and
    * truncate to microseconds — exactly what DuckDB does on read
    * (TIMESTAMP_NS → TIMESTAMP), so both engines see identical values.
    */
  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$sfDir/events.parquet")
    val tsIsNanos = raw.schema("ts").dataType == LongType
    raw.select(raw.columns.map {
      // already µs timestamps (e.g. re-encoded copies): pass through
      case "ts" if tsIsNanos => expr("timestamp_micros(ts div 1000)").as("ts")
      case c                 => col(c)
    }: _*)
  }

  /** Register every table as a temp view (idempotent) so spark.sql
    * queries — correlated subqueries, CTEs, mark joins — can run
    * against the same data the DataFrame API sees.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n => table(spark, sfDir, n).createOrReplaceTempView(n) }
}
