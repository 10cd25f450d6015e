package perfbench

import graft.queries._

/** The benchmark's named workloads, resolved from the engine's per-area
  * `defs` objects. Resolution happens before the session is built, and
  * an entry that does not resolve to exactly one definition aborts the
  * run before any timing.
  */
object Workloads {

  final case class Workload(name: String, entries: Seq[QDef])

  /** A cross-section of `graft.Bench.headline`: a TPC-H scan-aggregate
    * and a three-way join, the theta-join and window operators, and the
    * exact, SimHash and cosine LLM kernels.
    */
  private val headlineMini =
    Seq("tpch_q6", "tpch_q3", "q06_theta_join", "q13_window_rank",
      "d01_dedup_exact", "d03_dedup_simhash", "s01_cosine_topk")

  /** Copy-on-write DELETE, the DML statement front door, and a
    * partitioned parquet write.
    */
  private val dmlMini = Seq("u02", "u09", "s04")

  private val headlinePool: Seq[QDef] =
    Tpch.defs ++ TpchBucketed.defs ++ RelationalA.defs ++ RelationalB.defs ++ RelationalD.defs ++
      Pipeline.defs ++ StreamingQ.defs

  /** `id` is either a full entry name or its `xNN` short id. */
  private def resolve(pool: Seq[QDef], id: String): QDef =
    pool.filter(d => if (id.contains('_')) d.name == id else d.name.startsWith(id + "_")) match {
      case Seq(d) => d
      case Seq()  => sys.error(s"entry '$id' does not resolve")
      case many   => sys.error(s"entry '$id' is ambiguous: ${many.map(_.name).mkString(", ")}")
    }

  def apply(name: String): Workload = name match {
    case "headline_mini" => Workload(name, headlineMini.map(resolve(headlinePool, _)))
    case "dml_mini" =>
      Workload(name, dmlMini.map(id => resolve(if (id.startsWith("u")) DmlQ.defs else SourcesQ.defs, id)))
    case other => sys.error(s"unknown workload '$other'")
  }
}
