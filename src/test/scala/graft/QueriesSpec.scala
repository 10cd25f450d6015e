package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[8]", shufflePartitions = 8)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Cancels the running test unless every one of `paths` exists: the
    * leading condition of a test that reads files outside the repository
    * and the sf dir (`QDef.externalFiles`). The cancel message lists the
    * missing paths; where they all exist the test runs unchanged.
    */
  def assumeFiles(paths: Seq[String])(implicit pos: org.scalactic.source.Position): Unit = {
    val missing = paths.filterNot(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    if (missing.nonEmpty)
      org.scalatest.Assertions.cancel(
        s"${missing.size} input file(s) missing: ${missing.mkString(", ")}")(pos)
  }
}

/** Every SURVEY §2 coverage item runs and returns rows on sf0.001 —
  * the same (spark, sfDir) contract the driver exercises. Value-level
  * correctness is the DuckDB oracle gate (tools/check.py); these specs
  * keep the whole surface executable.
  */
class QueriesSpec extends AnyFunSuite {
  import TestSession._

  for (d <- SparkEntry.allDefs) {
    test(s"${d.name} runs and returns rows") {
      assumeFiles(d.externalFiles)
      assert(d.fn(spark, sfDir).count() > 0, s"${d.name} returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
