package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSql
import graft.sources.Catalog

/** One coverage item: a DuckDB-dialect text, run by both engines, or a
  * Spark implementation with (when SQL-expressible) the DuckDB oracle
  * text that must hash-match it.
  *
  * Most entries are their text (`QDef.text`): the entry runs the oracle
  * text through the front door (`GraftSql`), so the oracle gate tests
  * the surface users reach. An entry keeps a hand-built plan
  * (`QDef.sql`, `handPlan`) only where the plan calls a graft operator
  * or kernel, is a `Bench.headline` or benchmark-workload entry whose
  * plan shape is measured, does what its text cannot state (setup
  * statements, a source-format write and read-back, bound parameters),
  * has no oracle (`QDef.rowsOnly`), or where its text still gives a
  * different answer through the front door (FrontDoorSpec lists those
  * with their causes). Column aliases are kept identical on both
  * sides by construction.
  *
  * Whether an entry has an oracle is fixed when it is built and reads
  * no file. The oracle text itself is built on first use of `oracle`,
  * never when the registry is assembled: some texts are read from
  * files that may be absent, and that failure belongs to the entry
  * that needs them, not to every caller that lists or runs the others.
  *
  * `externalFiles` declares the files outside the repository and the
  * sf dir that the entry (its run or its oracle text) reads; it is
  * empty for all but the entries built from the reference tree.
  */
final class QDef(
    val name: String,
    val fn: (SparkSession, String) => DataFrame,
    val hasOracle: Boolean,
    oracleText: => String,
    val externalFiles: Seq[String],
    val handPlan: Boolean = true) {
  lazy val oracle: Option[String] = if (hasOracle) Some(oracleText) else None
  def run(spark: SparkSession, sfDir: String): DataFrame = fn(spark, sfDir)
}

object QDef {
  /** An entry that is its text: the sf tables bound as views and the
    * text (a script is run whole) through the front door, the last
    * statement's result returned; the same text is its oracle.
    */
  def text(name: String, sql: => String, externalFiles: Seq[String] = Nil): QDef = {
    lazy val body = sql
    new QDef(name, (s, dir) => runText(s, dir, body), hasOracle = true, body, externalFiles,
      handPlan = false)
  }

  /** `text`'s run: `sql` through the front door over the sf tables. */
  def runText(spark: SparkSession, sfDir: String, sql: String): DataFrame = {
    Catalog.registerAll(spark, sfDir)
    GraftSql.runScript(spark, sql).last
  }

  def sql(name: String, oracle: => String, externalFiles: Seq[String] = Nil)(
      fn: (SparkSession, String) => DataFrame): QDef =
    new QDef(name, fn, hasOracle = true, oracle, externalFiles)
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QDef =
    new QDef(name, fn, hasOracle = false, "", Nil)
}

/** The reference engine's names for Spark schema types — what
  * typeof()/DESCRIBE render: the front door's DESCRIBE and SUMMARIZE,
  * `SET VARIABLE` typing, EXPORT DATABASE and the f51 typeof entry.
  */
object DuckTypes {
  import org.apache.spark.sql.types._

  def name(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case DateType => "DATE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case ArrayType(e, _) => s"${name(e)}[]"
    case other => other.sql
  }
}
