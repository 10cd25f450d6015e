package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QDef

/** Every oracle-bearing entry that keeps a hand-built plan gives, through
  * the front door, the answer its plan gives: its oracle text run as
  * `QDef.text` runs it has the plan's column names and types, and the
  * two results are multiset-equal (EXCEPT ALL both ways) at sf0.001.
  *
  * An entry that is its text has nothing to compare. The entries whose
  * text still differs are listed below with their causes, and each must
  * still differ: mending one makes its case fail until the entry
  * becomes a text or leaves the list.
  */
class FrontDoorSpec extends AnyFunSuite {
  import TestSession._

  private val diverges: Map[String, String] = Map(
    "f51_columns_multi" ->
      "typeof renders Spark's type names (timestamp), not DuckDB's (TIMESTAMP)",
    "f53_string_normalize" -> "Unicode normalization differs (not diagnosed)",
    "f61_date_fringe" ->
      "an interval renders as INTERVAL '100-0' YEAR TO MONTH; DuckDB renders 100 years",
    "f65_grapheme" -> "grapheme clusters differ (not diagnosed)",
    "tpch_q14" -> ("decimal division keeps scale 6 under Spark's precision-loss rule " +
      "(17.608672); DuckDB's returns a DOUBLE (17.608672443)"),
    "q13_window_rank" -> "row_number/rank/dense_rank are int; DuckDB's are BIGINT",
    "q41_window_misc" -> "ntile is int; DuckDB's is BIGINT",
    "s11_json_auto" -> "JSON-inferred integers are int; DuckDB's are BIGINT",
    "p06_kmeans" -> "centroid_id is int; the plan's is bigint",
    "u06_sequence" -> "seq_id is int; the plan's is bigint")

  /** Listed, not run: too slow for Tier-1. */
  private val notRun: Map[String, String] = Map(
    "t04_fingerprint" ->
      "its front-door run takes ~35 s at sf0.001, against 0.1-0.3 s for its hand plan",
    "tpcds_full99_sweep" -> "fingerprints 99 reference texts, one job each",
    "cb_full43_sweep" -> "fingerprints 43 reference texts, one job each",
    "imdb_job_sweep" -> "fingerprints 113 reference texts, one job each")

  /** None when `text` has `plan`'s column names and types and the same rows. */
  private def difference(plan: DataFrame, text: DataFrame): Option[String] = {
    def cols(df: DataFrame) = df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.catalogString}")
    if (cols(plan) != cols(text))
      Some(s"columns: plan ${cols(plan).mkString(", ")}; text ${cols(text).mkString(", ")}")
    else {
      val planOnly = plan.exceptAll(text).count()
      val textOnly = text.exceptAll(plan).count()
      if (planOnly + textOnly == 0) None
      else Some(s"$planOnly rows only in the plan, $textOnly only in the text")
    }
  }

  private val compared = SparkEntry.allDefs.filter(d => d.hasOracle && d.handPlan)

  test("every listed entry keeps a hand plan and an oracle") {
    val names = compared.map(_.name).toSet
    val stray = (diverges.keySet ++ notRun.keySet).filterNot(names)
    assert(stray.isEmpty, s"listed but not a hand-plan oracle entry: ${stray.mkString(", ")}")
  }

  for (d <- compared if !notRun.contains(d.name)) {
    val cause = diverges.get(d.name)
    val claim = if (cause.isEmpty) "equals its hand plan" else "still diverges from its hand plan"
    test(s"${d.name} through the front door $claim") {
      val found = difference(d.fn(spark, sfDir), QDef.runText(spark, sfDir, d.oracle.get))
      cause match {
        case None => found.foreach(f => fail(s"${d.name}: $f"))
        case Some(c) => assert(found.nonEmpty,
          s"${d.name} now equals its plan ($c is mended): make it a QDef.text entry")
      }
    }
  }
}
