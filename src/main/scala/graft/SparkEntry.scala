package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7. */
object SparkEntry {

  /** Every coverage item: Spark impl + (where SQL-expressible) its
    * DuckDB oracle. Assembled from the per-area modules.
    */
  def allDefs: Seq[QDef] =
    RelationalA.defs ++ RelationalB.defs ++ RelationalC.defs ++ RelationalD.defs ++
      RelationalE.defs ++ RelationalF.defs ++ RelationalG.defs ++ RelationalH.defs ++ Tpch.defs ++ Tpch2.defs ++ Tpch3.defs ++ TpchBucketed.defs ++ Tpcds.defs ++ TpcdsFull.defs ++ ClickBench.defs ++ ClickBench43.defs ++ H2oai.defs ++ Imdb.defs ++
      FunctionsQ.defs ++ FunctionsQ2.defs ++ FunctionsQ3.defs ++ FunctionsQ4.defs ++ FunctionsQ5.defs ++ FunctionsQ6.defs ++ FunctionsQ7.defs ++ FunctionsQ8.defs ++ FunctionsQ9.defs ++ FunctionsQ10.defs ++ RefWorkload.defs ++ SourcesQ.defs ++ DmlQ.defs ++ Pipeline.defs ++ StreamingQ.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_join_multi")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    *
    * The key set, `size` and `contains` read no file: they come from
    * each entry's `QDef.hasOracle`. Looking up or iterating an entry
    * builds only that entry's text, so a missing reference file throws,
    * with its path, only for the entry that reads it.
    */
  def oracleSql: Map[String, String] =
    new OracleTexts(allDefs.filter(_.hasOracle).map(d => d.name -> d).toMap)

  private final class OracleTexts(byName: Map[String, QDef])
      extends scala.collection.immutable.AbstractMap[String, String] {
    def get(key: String): Option[String] = byName.get(key).flatMap(_.oracle)
    def iterator: Iterator[(String, String)] =
      byName.iterator.map { case (name, d) => name -> d.oracle.get }
    override def keySet: Set[String] = byName.keySet
    override def keysIterator: Iterator[String] = byName.keysIterator
    override def contains(key: String): Boolean = byName.contains(key)
    override def size: Int = byName.size
    override def knownSize: Int = byName.size
    def removed(key: String): Map[String, String] = new OracleTexts(byName.removed(key))
    def updated[V1 >: String](key: String, value: V1): Map[String, V1] =
      Map.from(this).updated(key, value)
  }
}
