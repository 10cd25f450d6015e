package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One coverage item: a Spark implementation + (when SQL-expressible)
  * the DuckDB oracle SQL that must hash-match it. Column aliases are
  * kept identical on both sides by construction.
  *
  * Whether an entry has an oracle is fixed when it is built
  * (`QDef.sql` gives it one, `QDef.rowsOnly` does not) and reads no
  * file. The oracle text itself is built on first use of `oracle`,
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
    val externalFiles: Seq[String]) {
  lazy val oracle: Option[String] = if (hasOracle) Some(oracleText) else None
  def run(spark: SparkSession, sfDir: String): DataFrame = fn(spark, sfDir)
}

object QDef {
  def sql(name: String, oracle: => String, externalFiles: Seq[String] = Nil)(
      fn: (SparkSession, String) => DataFrame): QDef =
    new QDef(name, fn, hasOracle = true, oracle, externalFiles)
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QDef =
    new QDef(name, fn, hasOracle = false, "", Nil)
}

/** The reference engine's names for Spark schema types — what
  * typeof()/DESCRIBE render. Shared by the introspection entries
  * (f51 typeof, s16 DESCRIBE).
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
