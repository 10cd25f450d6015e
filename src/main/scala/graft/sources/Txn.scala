package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{AnalysisException, SparkSession}

/** BEGIN / COMMIT / ROLLBACK over the copy-on-write DML layer — the
  * reference's transaction statements
  * (src/parser/statement/transaction_statement.cpp; semantics from
  * src/transaction/duck_transaction_manager.cpp) mapped onto
  * file-level MVCC. Every logical connection ([[onConnection]]; the
  * front door is connection 0) gets the same transaction. Semantics
  * pinned against two python-duckdb connections on one database file:
  *
  *   - BEGIN lists every managed parquet table of the current
  *     database. The listing is both the undo snapshot and the READ
  *     snapshot: while the transaction is open, reads on its
  *     connection resolve at analysis time to exactly those files
  *     (plans/TxnSnapshot, keyed on the thread's connection id), so a
  *     repeated read is stable across another connection's committed
  *     write (DuckDB: A mid-txn still sees the pre-image, 100 vs B's
  *     committed 5100).
  *   - The transaction's first write to a table drops that table's
  *     read pin (own-write visibility). Files it replaces from its
  *     BEGIN listing move to its own trash subdirectory,
  *     `<table>/.graft_trash/conn<n>/` (hidden dirs are invisible to
  *     every reader: Spark's file index and [[Dml]]'s listings skip
  *     dot-paths); the files it creates are recorded.
  *   - COMMIT deletes the trashed files. ROLLBACK deletes exactly the
  *     files this transaction created and moves its trashed files
  *     back, so a concurrent committed write survives it (DuckDB:
  *     rollback then read = 5105).
  *   - A file that an open transaction still reads is never deleted:
  *     the writer (on any connection, in a transaction or autocommit)
  *     moves it to `.graft_trash/pin/` and re-points the readers' pins
  *     at the moved bytes; it is deleted when its last reader ends.
  *
  * One conflict rule, at FILE granularity, holds between a live
  * transaction and every other writer, including an autocommit
  * statement on another connection: replacing a file that a live
  * transaction replaced or created raises "Conflict on update!" AT
  * WRITE TIME in the later writer (first writer wins). A transaction
  * replacing a file that is neither in its BEGIN listing nor its own
  * (a commit landed since its BEGIN) conflicts the same way. Conflicts
  * are detected before any mutation, so a failed statement leaves the
  * transaction usable (statement atomicity), and appends never
  * conflict.
  *
  * Divergences: the reference conflicts on ROWS, this model on files
  * (spark.graft.dml.maxFileRows narrows the gap); a transaction that
  * BEGINs while another has uncommitted files in flight lists them;
  * DDL (CREATE/DROP) autocommits.
  */
object Txn {

  private final class Tx(val conn: Int) {
    // key -> normalized files at BEGIN (tables unknown at BEGIN join
    // at their first touch)
    val beginListing = mutable.HashMap.empty[String, Set[String]]
    // key -> the files this transaction's reads resolve to: the BEGIN
    // listing, re-pointed when a writer moves a member, dropped at the
    // transaction's first own write to the table
    val readPin = mutable.HashMap.empty[String, Seq[String]]
    val written = mutable.LinkedHashSet.empty[String]
    val paths = mutable.HashMap.empty[String, String] // key -> table path
    // key -> qualified table name: refreshByPath does NOT invalidate a
    // catalog table's cached relation, so the end refreshes by name too
    val names = mutable.HashMap.empty[String, String]
    val created = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]
    val preWrite = mutable.HashMap.empty[String, Set[String]] // normalized
    // key -> normalized files this transaction replaced or created:
    // no other writer may replace them while it is live
    val owned = mutable.HashMap.empty[String, mutable.Set[String]]
    def ownedSet(k: String): mutable.Set[String] =
      owned.getOrElseUpdate(k, mutable.Set.empty[String])
  }

  private val txs = mutable.HashMap.empty[Int, Tx]
  private val connId = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Runs `body` as logical connection `n` — BEGIN/COMMIT/ROLLBACK
    * and every DML inside route to that connection's transaction.
    * Threads that never call this run as connection 0. */
  def onConnection[T](n: Int)(body: => T): T = {
    require(n >= 0, s"connection id must be >= 0, got $n")
    val prev = connId.get()
    connId.set(n)
    try body finally connId.set(prev)
  }

  /** The current connection has an open transaction. */
  def isActive: Boolean = synchronized { txs.contains(connId.get()) }

  def begin(spark: SparkSession): Unit = synchronized {
    val n = connId.get()
    require(!txs.contains(n), s"BEGIN: connection $n already has an active transaction")
    val tx = new Tx(n)
    val cat = spark.sessionState.catalog
    cat.listTables(cat.getCurrentDatabase).filterNot(cat.isTempView).foreach { id =>
      try {
        val meta = cat.getTableMetadata(id)
        if (meta.provider.exists(_.equalsIgnoreCase("parquet"))) {
          val path = meta.location.toString
          val k = norm(path)
          val files = dataFiles(spark, path)
          tx.beginListing(k) = files.map(norm).toSet
          tx.paths(k) = path
          tx.names(k) = id.unquotedString
          // an empty table is not pinned: parquet infers no schema from zero files
          if (files.nonEmpty) tx.readPin(k) = files
        }
      } catch {
        // dropped by another connection since listTables: nothing to snapshot
        case e: AnalysisException if tableGone(e) =>
      }
    }
    txs(n) = tx
  }

  /** Normalized table root → pinned file list for the current
    * thread's open transaction (consulted by plans/TxnSnapshot on
    * every plan resolution; empty when the connection has none). */
  def threadReadPins: Map[String, Seq[String]] = synchronized {
    txs.get(connId.get()) match {
      case Some(tx) => tx.readPin.toMap
      case None => Map.empty
    }
  }

  /** Conflict check and bookkeeping before a statement writes the table
    * at `path`. `replacing`: the files the statement will rewrite or
    * delete (known before any mutation) — conflicts raise HERE, before
    * the append, so a failed statement leaves both the table and the
    * transaction intact (after "Conflict on update!" the reference's
    * transaction still commits its earlier writes).
    */
  def touch(spark: SparkSession, path: String, replacing: Seq[String] = Nil): Unit = synchronized {
    val k = norm(path)
    val replacingN = replacing.map(norm).toSet
    val me = txs.get(connId.get())
    if (txs.values.exists(o => !me.contains(o) && o.owned.get(k).exists(replacingN.exists)))
      throw new IllegalStateException(
        s"Conflict on update! table at $k was already modified by a " +
        "concurrent transaction")
    me.foreach { tx =>
      val begin = tx.beginListing.getOrElseUpdate(k, dataFiles(spark, path).map(norm).toSet)
      tx.paths.getOrElseUpdate(k, path)
      replacingN.find(f => !begin.contains(f) && !tx.ownedSet(k).contains(f)).foreach { f =>
        throw new IllegalStateException(
          s"Conflict on update! file $f was created after this " +
          "transaction began (committed by a concurrent transaction)")
      }
      tx.written += k
      tx.ownedSet(k) ++= replacingN
      tx.readPin.remove(k)
      tx.preWrite(k) = dataFiles(spark, path).map(norm).toSet
    }
  }

  /** Post-write hook (Dml): record the files the statement created —
    * ROLLBACK deletes exactly these, never another writer's. */
  def wrote(spark: SparkSession, path: String): Unit = synchronized {
    val k = norm(path)
    txs.get(connId.get()).filter(_.written.contains(k)).foreach { tx =>
      val pre = tx.preWrite.getOrElse(k, Set.empty)
      dataFiles(spark, path).filterNot(f => pre.contains(norm(f))).foreach { f =>
        tx.created.getOrElseUpdate(k, mutable.LinkedHashSet.empty[String]) += f
        tx.ownedSet(k) += norm(f)
      }
    }
  }

  /** A statement replaced `file`. Inside the connection's transaction, a
    * file from its BEGIN listing moves to the connection's trash
    * (deleted at COMMIT, restored at ROLLBACK). Any other file — the
    * transaction's own intermediate one, or any file outside a
    * transaction — is deleted, unless an open reader still pins it.
    * Caller guarantees [[touch]] ran first.
    */
  def retire(spark: SparkSession, path: String, file: String): Unit = synchronized {
    val hfs = fs(spark, path)
    val k = norm(path)
    txs.get(connId.get()) match {
      case Some(tx) if tx.beginListing.getOrElse(k, Set.empty).contains(norm(file)) =>
        move(hfs, k, file, connTrash(path, tx))
      case _ => deleteUnlessPinned(hfs, k, path, file)
    }
  }

  def commit(spark: SparkSession): Unit = synchronized {
    val tx = end("COMMIT")
    tx.written.foreach { k =>
      val p = tx.paths(k)
      val hfs = fs(spark, p)
      val dir = connTrash(p, tx)
      if (hfs.exists(dir)) {
        hfs.listStatus(dir).foreach(st => deleteUnlessPinned(hfs, k, p, st.getPath.toString))
        hfs.delete(dir, true)
      }
    }
    finish(spark, tx)
  }

  def rollback(spark: SparkSession): Unit = synchronized {
    val tx = end("ROLLBACK")
    tx.written.foreach { k =>
      val p = tx.paths(k)
      val hfs = fs(spark, p)
      tx.created.getOrElse(k, Nil).foreach(f => deleteUnlessPinned(hfs, k, p, f))
      val dir = connTrash(p, tx)
      if (hfs.exists(dir)) {
        hfs.listStatus(dir).foreach { st =>
          val dst = new Path(p, st.getPath.getName)
          require(hfs.rename(st.getPath, dst), s"txn: failed to restore ${st.getPath}")
          repoint(k, st.getPath.toString, dst.toString)
        }
        hfs.delete(dir, true)
      }
    }
    finish(spark, tx)
  }

  private def end(verb: String): Tx =
    txs.remove(connId.get()).getOrElse(
      throw new IllegalArgumentException(s"$verb: no active transaction"))

  /** The transaction ended: delete the pin-trash files no remaining
    * reader maps (deferred deletes whose last reader just left), drop
    * emptied trash dirs, and invalidate both cache layers for every
    * table it knew — a relation resolved mid-transaction would
    * otherwise keep serving files this end just deleted. */
  private def finish(spark: SparkSession, tx: Tx): Unit =
    tx.paths.foreach { case (k, p) =>
      val hfs = fs(spark, p)
      val pinDir = new Path(trashDir(p), "pin")
      if (hfs.exists(pinDir))
        hfs.listStatus(pinDir).foreach { st =>
          if (!pinned(k, st.getPath.toString)) hfs.delete(st.getPath, false)
        }
      Seq(pinDir, trashDir(p)).foreach { d =>
        if (hfs.exists(d) && hfs.listStatus(d).isEmpty) hfs.delete(d, true)
      }
      spark.catalog.refreshByPath(p)
      tx.names.get(k).foreach { n =>
        try spark.catalog.refreshTable(n)
        catch {
          // dropped inside the transaction (DDL autocommits): no relation left to refresh
          case e: AnalysisException if tableGone(e) =>
        }
      }
    }

  /** Some open transaction's read pin still maps `file` of table `k`. */
  private def pinned(k: String, file: String): Boolean = {
    val fn = norm(file)
    txs.values.exists(_.readPin.get(k).exists(_.exists(norm(_) == fn)))
  }

  private def deleteUnlessPinned(hfs: FileSystem, k: String, path: String, file: String): Unit =
    if (pinned(k, file)) move(hfs, k, file, new Path(trashDir(path), "pin"))
    else hfs.delete(new Path(file), false)

  /** Rename `file` into `dir` and re-point every open reader's pin at
    * the moved bytes. */
  private def move(hfs: FileSystem, k: String, file: String, dir: Path): Unit = {
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val dst = new Path(dir, new Path(file).getName)
    require(hfs.rename(new Path(file), dst), s"txn: failed to move $file to $dir")
    repoint(k, file, dst.toString)
  }

  private def repoint(k: String, from: String, to: String): Unit = {
    val fn = norm(from)
    txs.values.foreach { tx =>
      tx.readPin.get(k).foreach(files => tx.readPin(k) = files.map(f => if (norm(f) == fn) to else f))
    }
  }

  private def tableGone(e: AnalysisException): Boolean =
    e.getCondition == "TABLE_OR_VIEW_NOT_FOUND"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(spark: SparkSession, path: String): Seq[String] =
    Catalog.dataFiles(spark, path).map(_.getPath.toString)

  /** Filesystem-path normal form — Spark's `_metadata.file_path`
    * ("file:///x") and Hadoop listings ("file:/x") must compare equal.
    * A table's normal form is its key in every map here. */
  private def norm(f: String): String = new Path(f).toUri.getPath

  private def trashDir(path: String) = new Path(path, ".graft_trash")

  private def connTrash(path: String, tx: Tx) = new Path(trashDir(path), s"conn${tx.conn}")
}
