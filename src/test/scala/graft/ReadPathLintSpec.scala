package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads parquet through one path, `Catalog.parquet`, which
  * keeps DataFrame construction free of Spark jobs. A direct
  * `read.parquet(` anywhere else in the engine sources (the ad-hoc
  * `tools/` excepted) would bring the schema-inference job back.
  *
  * Plans are chosen in code, never by a JVM-global system property or
  * an environment variable: such a switch makes every session in the
  * JVM plan differently.
  *
  * SQL functions enter a session through one table and one loop
  * (plans/FunctionTable), so a second registration path cannot regrow.
  * The ASOF join marker has one emitter (the dialect) and one consumer
  * (plans/AsofJoinRule).
  *
  * Every runnable tool is documented in the verify skill, so one-off
  * tools cannot pile up unseen.
  *
  * Where a literal, a quoted name or a comment ends is decided in one
  * place, plans/SqlText: a quote char literal anywhere else is a second
  * lexical rule that disagrees with it.
  *
  * A transaction's read snapshot is taken when a plan resolves its
  * relations (plans/TxnSnapshot), and a relation the front door
  * computes for a statement is bound in that statement's scope
  * (plans/StatementScope); neither shadows a table with a session temp
  * view. The session has one temp-view namespace: a view the engine
  * puts there outlives the statement and replaces the user's view of
  * that name.
  *
  * Failures are loud: a catch-all that turns any exception into a
  * default answer hides the fault, so each catch names the exception
  * it expects, save the listed deliberate sites.
  *
  * A coverage entry runs its text one way, `QDef.text`: a private
  * "bind the tables and run this text" closure is a second way, and a
  * hand plan that re-spells its text is a second spelling the oracle
  * gate would test instead of the front door.
  */
class ReadPathLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val allowed = Set(root.resolve("sources/Catalog.scala"))
  private val directRead = """read\s*\.\s*parquet\s*\(""".r
  private val graftProperty =
    """sys\.props|System\s*\.\s*(get|set)Property\s*\(\s*"graft\.""".r

  private def scalaSources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val all = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(all.size > 100, s"only ${all.size} sources found under $root")
    all
  }

  private def offenders(sources: Seq[Path], pattern: scala.util.matching.Regex) =
    for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"

  test("read.parquet( appears only in sources/Catalog.scala and tools/") {
    val sources = scalaSources
      .filterNot(p => allowed(p) || p.startsWith(root.resolve("tools")))
    val found = offenders(sources, directRead)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no JVM system property chooses a plan: engine sources, tools/ included") {
    val found = offenders(scalaSources, graftProperty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no environment variable chooses a plan: engine sources outside Bench, Verify and tools/") {
    // the bench and verify mains read their deployment inputs (scale
    // factor directory, CPU count, entry selection) from the environment
    val deployment = Set(root.resolve("Bench.scala"), root.resolve("Verify.scala"))
    val sources = scalaSources
      .filterNot(p => deployment(p) || p.startsWith(root.resolve("tools")))
    val found = offenders(sources, """sys\.env|System\s*\.\s*getenv""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("graft_asof is emitted by the dialect and consumed by one rule only") {
    val files = offenders(scalaSources, "graft_asof".r).map(_.takeWhile(_ != ':')).distinct.sorted
    assert(files === Seq("plans/AsofJoinRule.scala", "plans/DuckDialect.scala",
      "plans/FunctionTable.scala").map(root.resolve(_).toString))
  }

  test("graft_window is emitted by the dialect and consumed by one rule only") {
    val files = offenders(scalaSources, "graft_window".r).map(_.takeWhile(_ != ':')).distinct.sorted
    assert(files === Seq("plans/DuckDialect.scala", "plans/FunctionTable.scala",
      "plans/WindowFrameRule.scala").map(root.resolve(_).toString))
  }

  test("injectFunction( appears in exactly one file: plans/FunctionTable.scala") {
    val files = offenders(scalaSources, """injectFunction\s*\(""".r).map(_.takeWhile(_ != ':')).distinct
    assert(files === Seq(root.resolve("plans/FunctionTable.scala").toString))
  }

  test("every object with a main under tools/ is named in the verify skill") {
    val skill = new String(Files.readAllBytes(Paths.get(".claude/skills/verify/SKILL.md")))
    val mains = for {
      p <- scalaSources if p.startsWith(root.resolve("tools"))
      src = new String(Files.readAllBytes(p))
      m <- """def\s+main\s*\(""".r.findAllMatchIn(src)
      obj <- """\bobject\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
    } yield obj.group(1)
    assert(mains.size >= 5, s"only ${mains.size} tool mains found")
    val undocumented = mains.distinct.filterNot(n => s"\\b$n\\b".r.findFirstIn(skill).isDefined)
    assert(undocumented.isEmpty, undocumented.mkString("not in SKILL.md: ", ", ", ""))
  }

  test("the quote char literal appears only in plans/SqlText.scala (and the witness tokenizer)") {
    // queries/ImdbWitness tokenizes the literal VALUES of the reference's
    // JOB texts to solve for witness rows; it never rewrites SQL text
    val quoteOk = Set(root.resolve("plans/SqlText.scala"), root.resolve("queries/ImdbWitness.scala"))
    val found = offenders(scalaSources.filterNot(quoteOk), """'\\''""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  /** Files whose temp-view sites are listed, with the site count. */
  private val userViews: Map[Path, (Int, String)] = Map(
    root.resolve("GraftSql.scala") ->
      (1 -> "CREATE VIEW over a body the front door computes registers the user's view"))

  test("the front door and Txn create no temp view but a user CREATE VIEW") {
    val scope = scalaSources.filter(p => p.startsWith(root.resolve("plans")) ||
      Seq("GraftSql.scala", "sources/Txn.scala", "sources/DmlSql.scala").map(root.resolve).contains(p))
    val found = offenders(scope, """create\w*TempView""".r)
    val stray = found.filterNot(f => userViews.keys.exists(p => f.startsWith(s"$p:")))
    assert(stray.isEmpty, stray.mkString("\n", "\n", ""))
    userViews.foreach { case (p, (n, why)) =>
      assert(found.count(_.startsWith(s"$p:")) === n, s"$p: $why")
    }
  }

  /** The deliberate catch-alls outside tools/, per file, with the site
    * count. tools/ holds diagnostics whose sweeps report each entry's
    * failure and go on. */
  private val catchAlls: Map[Path, (Int, String)] = Map(
    root.resolve("Bench.scala") -> (1 -> "per-entry isolation: one failing entry is reported"),
    root.resolve("Verify.scala") -> (2 -> "per-entry isolation: one failing entry is reported"),
    root.resolve("sources/Catalog.scala") ->
      (1 -> "NonFatal: falls back to Spark's own inference, which raises Spark's own error"),
    root.resolve("queries/ImdbWitness.scala") ->
      (2 -> "solver backtracks: a reading that fails moves on to the next"))

  test("no catch-all in src/main outside tools/, save the listed sites") {
    val catchAll = """case\s+\w+\s*:\s*(Exception|Throwable)\s*=>|NonFatal\(""".r
    val found = offenders(scalaSources.filterNot(_.startsWith(root.resolve("tools"))), catchAll)
    val counts = found.groupBy(f => Paths.get(f.takeWhile(_ != ':'))).map { case (p, fs) => p -> fs.size }
    val wrong = counts.filterNot { case (p, n) => catchAlls.get(p).exists(_._1 == n) }
    assert(wrong.isEmpty,
      found.filter(f => wrong.contains(Paths.get(f.takeWhile(_ != ':')))).mkString("\n", "\n", ""))
    assert(catchAlls.keySet === counts.keySet, "listed but catching nothing")
  }

  /** The queries/ code that runs SQL text itself, by owning entry or
    * helper (the last `QDef.…("name"` or `def name` above the line).
    */
  private val textRunners: Map[String, String] = Map(
    "ClickBench43.scala:cb_full43_sweep" -> "binds the hits view and fingerprints 43 texts",
    "DmlQ.scala:freshTable" -> "drops the entry's table before a DML entry writes it",
    "DmlQ.scala:u09_dml_statements" -> "DML statements against its own table",
    "DmlQ.scala:u10_upsert_statement" -> "DML statements against its own table",
    "DmlQ.scala:u11_transactions" -> "transaction statements against its own table",
    "FunctionsQ2.scala:f20_macro" -> "CREATE TEMPORARY FUNCTION before its query",
    "FunctionsQ9.scala:f59_enum" -> "CREATE TYPE before its query",
    "FunctionsQ6.scala:f55_prepared" -> "binds parameters through spark.sql(text, args)",
    "FunctionsQ10.scala:f94_query_tf" -> "query()/query_table(), which its DuckDB 1.0 oracle predates",
    "Imdb.scala:imdb_job_sweep" -> "binds the JOB views and fingerprints 113 texts",
    "RelationalH.scala:q72_varint" -> "VARINT, which its DuckDB 1.0 oracle cannot run (no oracle)",
    "SourcesQ.scala:s06_ctas" -> "CREATE TABLE AS before reading the table back",
    "SourcesQ.scala:s07_insert_append" -> "CREATE TABLE and two INSERTs before reading back",
    "SourcesQ.scala:s13_bucketed_join" -> "drops the bucketed tables it rewrites",
    "SourcesQ.scala:s18_attach" -> "a query over two ATTACHed databases",
    "TpcdsFull.scala:tpcds_full99_sweep" -> "fingerprints the 99 official texts",
    "TpcdsGen.scala:register" -> "binds the synthesized TPC-DS tables",
    "Tpch3.scala:mk" -> "a Spark-side CTE spelling that differs from its oracle's")

  test("queries/ runs an entry's text only through QDef.text, save the listed setup statements") {
    val dir = root.resolve("queries")
    val runs = """Catalog\.registerAll\(|\bs\.sql\(|GraftSql\.sql\(|\brunScript\(""".r
    val owner = """QDef\.\w+\(\s*"(\w+)"|\bdef (\w+)""".r
    val found = for {
      p <- scalaSources if p.startsWith(dir) && p != dir.resolve("QDef.scala")
      lines = Files.readAllLines(p).asScala.toSeq
      owners = lines.scanLeft("")((last, l) =>
        owner.findAllMatchIn(l).toSeq.lastOption.map(m => Option(m.group(1)).getOrElse(m.group(2)))
          .getOrElse(last)).tail
      ((line, who), i) <- lines.zip(owners).zipWithIndex
      if runs.findFirstIn(line).isDefined
    } yield (s"${p.getFileName}:$who", s"$p:${i + 1}: ${line.trim}")
    val stray = found.filterNot { case (key, _) => textRunners.contains(key) }.map(_._2)
    assert(stray.isEmpty, stray.mkString("use QDef.text:\n", "\n", ""))
    val stale = textRunners.keySet -- found.map(_._1)
    assert(stale.isEmpty, stale.mkString("listed but running no text: ", ", ", ""))
  }
}
