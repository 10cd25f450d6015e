package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads parquet through one path, `Catalog.parquet`, which
  * keeps DataFrame construction free of Spark jobs. A direct
  * `read.parquet(` anywhere else in the engine sources (the ad-hoc
  * `tools/` excepted) would bring the schema-inference job back.
  *
  * Plans are chosen in code, never by a JVM-global system property:
  * such a switch makes every session in the JVM plan differently.
  *
  * SQL functions enter a session through one table and one loop
  * (plans/FunctionTable), so a second registration path cannot regrow.
  *
  * Every runnable tool is documented in the verify skill, so one-off
  * tools cannot pile up unseen.
  *
  * Where a literal, a quoted name or a comment ends is decided in one
  * place, plans/SqlText: a quote char literal anywhere else is a second
  * lexical rule that disagrees with it.
  *
  * A transaction's read snapshot is taken when a plan resolves its
  * relations (plans/TxnSnapshot), never by shadowing a table with a
  * session temp view: the session has one temp-view namespace, and a
  * view in it would be a second snapshot model.
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

  test("sources/Txn.scala creates no temp view: snapshots stay in the plan-resolution rule") {
    val found = offenders(Seq(root.resolve("sources/Txn.scala")), """createOrReplaceTempView""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
