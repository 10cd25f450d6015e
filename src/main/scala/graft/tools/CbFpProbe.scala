package graft.tools

import graft.GraftSql
import graft.queries.ClickBench43

/** Spark side of the ClickBench value-fingerprint gate: runs each of
  * the 43 official texts through the front door over the synthesized
  * hits view and prints `qNN <rowcount> <fingerprint>` — diff against
  * the DuckDB side of the same fingerprint SQL to MEASURE (then pin)
  * the deterministic/count-only split, exactly like TpcdsFpProbe.
  * Args: <sfDir> [query numbers…].
  */
object CbFpProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val only = args.tail.map(_.toInt).toSet
    val spark = graft.GraftSession.builder("local[16]", 16).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Catalog.registerAll(spark, sfDir)
    GraftSql.sql(spark, ClickBench43.hitsViewSql).createOrReplaceTempView("hits")
    ClickBench43.texts.zipWithIndex
      .filter { case (_, i) => only.isEmpty || only(i + 1) }
      .foreach { case (text, i) =>
        try {
          val rows = GraftSql.sql(spark, text).collect()
          println(f"q${i + 1}%02d ${rows.length}%d ${ClickBench43.fingerprint(rows, i)}")
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
