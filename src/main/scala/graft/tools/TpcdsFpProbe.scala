package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSql
import graft.queries.{TpcdsFull, TpcdsGen}

/** Spark side of the TPC-DS value-fingerprint gate: runs each
  * official text through the front door and prints
  * `qNN <rowcount> <fingerprint>` using [[TpcdsFull]]'s mask
  * renderer — diff against tools/tpcds_fp_oracle.py's DuckDB output
  * to measure (and then pin) the deterministic/count-only split.
  * Args: optional query numbers to restrict.
  */
object TpcdsFpProbe {
  def main(args: Array[String]): Unit = {
    val only = args.map(_.toInt).toSet
    val spark = graft.GraftSession.builder("local[16]", 16).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.writeString(Paths.get("/tmp/tpcds_prelude.sql"), TpcdsGen.oraclePrelude)
    TpcdsGen.register(spark)
    TpcdsFull.texts.zipWithIndex
      .filter { case (_, i) => only.isEmpty || only(i + 1) }
      .foreach { case (text, i) =>
        try {
          val rows = GraftSql.sql(spark, text).collect()
          println(f"q${i + 1}%02d ${rows.length}%d ${TpcdsFull.fingerprint(rows, i)}")
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(2).mkString(" | ").take(300)
            println(f"q${i + 1}%02d ERR $msg")
        }
      }
    spark.stop()
  }
}
