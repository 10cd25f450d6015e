package graft.tools

/** Front-door sweeps: `tools/run_main.sh graft.tools.Probe <sfDir> <mode>`.
  *   - `fncheck <namefile>`: which reference core-function names resolve
  *   - `trans <entry>…`: the DuckDB-dialect translation of entries' oracle SQL
  *   - `dialectcheck`: translate, parse and run every oracle SQL text; a
  *     text that cannot be read prints `TEXT-FAIL <entry>: <path>` and
  *     counts as unreadable
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    args.drop(1).toList match {
      case "fncheck" :: file :: _ =>
        // coverage sweep: which reference core-function names resolve?
        // (GraftSession injects plans/FunctionTable via extensions.)
        // catalog.functionExists PARSES the name, so operator names
        // like `**` never resolve through it — use the session
        // FunctionRegistry directly, which is what the analyzer hits.
        val names = scala.io.Source.fromFile(file).getLines().filter(_.nonEmpty).toSeq
        def resolves(n: String): Boolean =
          try spark.sessionState.catalog
            .lookupFunctionInfo(org.apache.spark.sql.catalyst.FunctionIdentifier(n)) != null
          catch { case _: Throwable =>
            try spark.catalog.functionExists(n) catch { case _: Throwable => false }
          }
        val missing = names.filterNot(resolves)
        println(s"[probe] ${names.size} reference functions, ${missing.size} unresolved:")
        missing.foreach(n => println(s"[probe]   $n"))
      case "trans" :: names =>
        names.foreach { n =>
          println(s"[probe] ===== $n")
          println(graft.plans.DuckDialect.translate(graft.SparkEntry.oracleSql(n)))
        }
      case "dialectcheck" :: _ =>
        // robustness sweep: every oracle SQL text in the repo is a
        // real DuckDB query — the dialect front door must translate
        // each without crashing, and the translation should parse
        // (and mostly run) on Spark given the registered name surface
        graft.sources.Catalog.registerAll(spark, sfDir)
        val oracles = graft.SparkEntry.oracleSql
        var nText = 0; var nTrans = 0; var nParse = 0; var nRun = 0
        // each text is read inside its entry's own try: an unreadable
        // text (a missing reference file) fails that entry only
        oracles.keySet.toSeq.sorted.foreach { name =>
          val text = try Some(oracles(name)) catch {
            case e: Throwable =>
              println(s"[probe] TEXT-FAIL $name: ${e.getMessage}")
              None
          }
          text.foreach { sql =>
            nText += 1
            val t = try Some(graft.plans.DuckDialect.translate(sql)) catch {
              case e: Throwable =>
                println(s"[probe] TRANSLATE-FAIL $name: ${e.getMessage.linesIterator.next()}")
                None
            }
            t.foreach { _ =>
              nTrans += 1
              try {
                // an oracle text may be a script (f20_macro); its last
                // statement is the query
                val df = graft.GraftSql.runScript(spark, sql).last
                nParse += 1
                df.limit(1).collect()
                nRun += 1
              } catch {
                case e: Throwable =>
                  val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
                    .trim.linesIterator.take(2).mkString(" / ")
                  println(s"[probe] RUN-FAIL $name: $msg")
              }
            }
          }
        }
        println(s"[probe] dialect sweep: ${oracles.size} oracle texts, ${oracles.size - nText} unreadable, " +
          s"$nTrans translate, $nParse parse, $nRun run")
      case other =>
        System.err.println(s"[probe] unknown mode: ${other.mkString(" ")} (fncheck <file> | trans <entry>… | dialectcheck)")
    }
    spark.stop()
  }
}
