package graft.tools

import java.nio.file.{Files, Paths}

/** TPC-DS 99 iteration probe: registers the synthesized schema,
  * runs each official query text through the front door, prints
  * `name spark_count` (or the error head), and dumps the DuckDB
  * prelude to /tmp/tpcds_prelude.sql for the python-side compare.
  * Args: optional query numbers to restrict (e.g. 1 5 36).
  */
object TpcdsProbe {
  def main(args: Array[String]): Unit = {
    val only = args.map(_.toInt).toSet
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.writeString(Paths.get("/tmp/tpcds_prelude.sql"),
      graft.queries.TpcdsGen.oraclePrelude)
    graft.queries.TpcdsGen.register(spark)
    val dir = "/root/reference/extension/tpcds/dsdgen/queries"
    (1 to 99).filter(q => only.isEmpty || only(q)).foreach { q =>
      val text = new String(Files.readAllBytes(
        Paths.get(f"$dir/$q%02d.sql"))).trim.stripSuffix(";")
      val t0 = System.nanoTime()
      try {
        val n = graft.GraftSql.sql(spark, text).count()
        println(f"q$q%02d $n%d ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(2).mkString(" | ").take(300)
          println(f"q$q%02d ERR $msg")
      }
    }
    spark.stop()
  }
}
