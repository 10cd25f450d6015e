package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: names after outDir restrict the dump (local iteration);
    // oracle_sql.json is filtered to match so check.py stays 1:1
    val only = args.drop(2).toSet
    // fail fast on typo'd names — a silently-empty dump looks like a
    // successful run to check.py
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // only the dumped entries' oracles are built; an oracle that cannot
    // be built fails its entry like a failing query does
    val oracleSql = SparkEntry.allDefs.map(d => d.name -> d).toMap.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, d) =>
        def failed(e: Throwable): Unit =
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          val oracle = d.oracle
          try d.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable => failed(e) }
          oracle.map(name -> _)
        } catch { case e: Throwable => failed(e); None }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
