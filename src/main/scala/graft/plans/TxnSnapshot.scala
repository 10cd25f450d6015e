package graft.plans

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

/** Repeatable reads inside a transaction (sources/Txn) — the
  * reference gives every transaction a pinned MVCC snapshot
  * (src/transaction/duck_transaction_manager.cpp). While the current
  * thread's connection has an open transaction, any parquet relation
  * rooted at a table that transaction listed at BEGIN is re-pointed, at
  * PLAN RESOLUTION time, to exactly the BEGIN file list
  * (Txn.threadReadPins — re-pointed live when a writer moves a member,
  * dropped at the transaction's first own write for own-write
  * visibility).
  *
  * The rewrite keeps the ORIGINAL relation output (LogicalRelation
  * .copy with a new file index only), so attribute ids and metadata
  * columns (`_metadata.file_path`, which the DML layer reads) survive.
  * Only whole-root reads are re-pointed. Threads whose connection has
  * no open transaction see a no-op after one lookup.
  */
case class TxnSnapshotRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def norm(p: String): String = new Path(p).toUri.getPath

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val pins = graft.sources.Txn.threadReadPins
    if (pins.isEmpty) return plan
    plan match {
      // a write's TARGET relation must never be re-pointed at a
      // snapshot file list — rewrite only the source query side
      // (the writer's touch drops the target's pin before analysis,
      // but an INSERT ... SELECT over a DIFFERENT pinned table must
      // still snapshot its read side)
      case ins: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement =>
        return ins.copy(query = apply(ins.query))
      case _ =>
    }
    // transformUp, NOT resolveOperatorsUp: the session catalog caches
    // resolved relations, and a relation node reused from another
    // query's completed analysis carries the analyzed flag, which
    // resolveOperators* would skip
    plan.transformUp {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val hfr = lr.relation.asInstanceOf[HadoopFsRelation]
        if (hfr.partitionSchema.nonEmpty) lr
        else {
          val roots = hfr.location.rootPaths.map(p => norm(p.toString))
          // WHOLE-ROOT reads only: a file-scoped read under the table
          // root (Dml's pruned rewrite scan — Catalog.parquet(spark,
          // hitFiles)) already picked its files FROM the snapshot via the
          // re-pointed hit scan; re-pointing it to the full pin list
          // made every pruned rewrite read the whole table and
          // DUPLICATE the carried-through rows of non-hit files
          // (r12 two-writer split-units test exposed this)
          val hit = roots.distinct match {
            case Seq(root) => pins.get(root)
            case _ => None
          }
          hit match {
            case Some(files) =>
              val idx = new InMemoryFileIndex(
                session, files.map(new Path(_)), Map.empty,
                Some(hfr.dataSchema))
              lr.copy(relation = hfr.copy(location = idx)(session))
            case None => lr
          }
        }
    }
  }
}
