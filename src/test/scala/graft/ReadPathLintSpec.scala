package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads parquet through one path, `Catalog.parquet`, which
  * keeps DataFrame construction free of Spark jobs. A direct
  * `read.parquet(` anywhere else in the engine sources (the ad-hoc
  * `tools/` excepted) would bring the schema-inference job back.
  */
class ReadPathLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val allowed = Set(root.resolve("sources/Catalog.scala"))
  private val directRead = """read\s*\.\s*parquet\s*\(""".r

  test("read.parquet( appears only in sources/Catalog.scala and tools/") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p) || p.startsWith(root.resolve("tools")))
      .toSeq
    assert(sources.size > 100, s"only ${sources.size} sources found under $root")
    val offenders = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if directRead.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
