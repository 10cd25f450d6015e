package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** BEGIN / COMMIT / ROLLBACK over the copy-on-write DML layer — the
  * reference's transaction statements
  * (src/parser/statement/transaction_statement.cpp; semantics from
  * src/transaction/duck_transaction_manager.cpp) mapped onto
  * file-level undo:
  *
  *   - BEGIN snapshots nothing up front; the FIRST mutation of each
  *     table inside the transaction records its data-file list.
  *   - While a transaction is open, the swap/delete path MOVES
  *     replaced files into `<table>/.graft_trash/` instead of
  *     deleting them (hidden dirs are invisible to every reader:
  *     Spark's file index and [[Dml]]'s listings skip dot-paths).
  *   - COMMIT purges the trash — the deletes the swap deferred.
  *   - ROLLBACK deletes files added since the snapshot and moves the
  *     trashed originals back: the table's file set returns to
  *     exactly its BEGIN state.
  *
  * READER SNAPSHOT ISOLATION (the reference's MVCC contract,
  * duck_transaction_manager.cpp, pinned against two concurrent
  * python-duckdb connections): BEGIN pins every managed table's file
  * list and shadows the table name with a temp view reading exactly
  * those files. A concurrent writer — another logical connection,
  * expressed here as [[foreign]]-wrapped DML, since the front door
  * is one connection — swaps files as usual, but its deletes are
  * deferred to a hidden pin-trash and each RENAME re-points the open
  * transaction's pinned view, so the reader keeps seeing its BEGIN
  * snapshot (DuckDB: A mid-txn still sees the pre-image, 100 vs
  * B's committed 5100). The transaction's OWN writes unpin the table
  * (own-write visibility, like the reference). COMMIT/ROLLBACK drop
  * the pins: both then see the foreign writer's committed state —
  * ROLLBACK undoes only the transaction's own mutations, never a
  * concurrent committed write (DuckDB: rollback then read = 5105).
  *
  * SECOND LIVE TRANSACTION (r10): [[onConnection]] opens additional
  * logical connections (ids ≥ 1) that can run their own interleaved
  * BEGIN…COMMIT/ROLLBACK scripts concurrently with the primary.
  * Semantics pinned against two python-duckdb connections
  * (duck_transaction_manager.cpp contract, this session):
  *
  *   - write-write conflicts raise AT WRITE TIME in the later writer
  *     ("Conflict on update!"), never at commit — first writer wins;
  *   - a write that would replace a file created after the writer's
  *     BEGIN (another transaction's commit) conflicts the same way
  *     (DuckDB: update-after-their-commit on the same rows errors);
  *   - a failed statement leaves the transaction usable — conflicts
  *     are detected BEFORE any mutation, so COMMIT still succeeds
  *     with the transaction's earlier writes (statement atomicity);
  *   - appends never conflict with committed appends (concurrent
  *     INSERTs both survive, like the reference's row-level MVCC);
  *   - each transaction's undo is isolated: per-connection trash
  *     dirs (.graft_trash/sec<n>/), created-file tracking per
  *     connection, and a secondary's deferred deletes adopt the
  *     pin-trash protocol when the primary holds a read pin.
  *
  * SECONDARY READER SNAPSHOTS (r11): a secondary connection's BEGIN
  * listing doubles as its READ snapshot. Reads on that connection
  * resolve, at analysis time (plans/SecondarySnapshot, keyed on the
  * thread's connection id), to exactly the BEGIN file list; every
  * writer's trash-rename re-points the pin, so connection n's
  * repeated read inside an open transaction is stable across a
  * concurrent committed write (DuckDB: conn 2 mid-txn still reads
  * its snapshot; after COMMIT it sees the other writer's state).
  * The transaction's first own write to a table drops that table's
  * pin (own-write visibility), and pin-trash files are swept when
  * their last reader ends.
  *
  * Granularity divergence (honest): the reference conflicts on
  * ROWS; this model conflicts on FILES for committed-vs-live
  * overlap and on TABLES between two LIVE writers (two live
  * transactions rewriting one table cannot both keep file-level
  * undo). A transaction that BEGINs while another transaction has
  * uncommitted file swaps in flight snapshots the live listing —
  * file-level, not row-level, MVCC.
  *
  * Remaining honest divergences: DDL (CREATE/DROP) autocommits.
  */
object Txn {

  private case class TableUndo(path: String, snapshot: Set[String])

  /** A pinned table: name, storage path, and the exact files the
    * open transaction reads (re-pointed when a foreign writer
    * trash-renames one). */
  private case class Pin(name: String, path: String,
      var files: Seq[String], var active: Boolean)

  @volatile private var open = false
  private val undo = mutable.LinkedHashMap.empty[String, TableUndo]
  // r13: the PRIMARY transaction's file-level write tracking —
  // normalized replaced paths and created files per table key — so
  // (a) conflicts between the primary and live secondaries drop from
  // table to FILE granularity (disjoint-row writers on a split table
  // both commit, the reference's row-level MVCC reached at file
  // granularity), and (b) ROLLBACK deletes only the transaction's OWN
  // created files: a concurrent secondary's committed files survive.
  private val primReplaced = mutable.HashMap.empty[String, mutable.Set[String]]
  private val primCreated = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]
  private val primPreWrite = mutable.HashMap.empty[String, Set[String]]
  private val pins = mutable.LinkedHashMap.empty[String, Pin]
  private val foreignMode = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private var session: SparkSession = _

  // ---- secondary connections (ids >= 1): full write transactions ----
  private final class SecTx(val conn: Int) {
    // key(path) -> files at BEGIN (managed tables; unknown paths join
    // lazily at first touch)
    val beginListing = mutable.HashMap.empty[String, Set[String]]
    // key(path) -> the files this transaction's READS resolve to
    // (r11 repeatable reads): starts as the BEGIN listing, re-pointed
    // when a concurrent writer trash-renames a member, and DROPPED at
    // the transaction's first own write to the table (own-write
    // visibility). plans/SecondarySnapshot consults this per thread.
    val readPin = mutable.HashMap.empty[String, Seq[String]]
    val written = mutable.LinkedHashSet.empty[String] // key(path)
    val paths = mutable.HashMap.empty[String, String] // key -> path
    // key -> qualified table name: refreshByPath does NOT invalidate
    // a catalog table's cached relation (DmlSql refreshes by NAME for
    // the same reason) — a read cached mid-transaction would survive
    // this transaction's end and serve deleted files
    val names = mutable.HashMap.empty[String, String]
    val created = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]
    val preWrite = mutable.HashMap.empty[String, Set[String]]
    // key -> NORMALIZED paths of files this transaction REPLACED —
    // the conflict unit between two live secondaries (r12): disjoint
    // replaced-file sets commute (each side's undo touches only its
    // own trash subdir), so disjoint-row writers on a split table
    // both commit, like the reference's row-level MVCC
    val replaced = mutable.HashMap.empty[String, mutable.Set[String]]
    def createdSet(k: String): mutable.LinkedHashSet[String] =
      created.getOrElseUpdate(k, mutable.LinkedHashSet.empty[String])
  }
  private val secs = mutable.LinkedHashMap.empty[Int, SecTx]
  private val connId = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Runs `body` as logical connection `n` — BEGIN/COMMIT/ROLLBACK
    * and every DML inside route to that connection's transaction.
    * Connection 0 is the primary (reader-pinned) front door. */
  def onConnection[T](n: Int)(body: => T): T = {
    require(n >= 0, s"connection id must be >= 0, got $n")
    val prev = connId.get()
    connId.set(n)
    try body finally connId.set(prev)
  }

  /** An open transaction exists ANYWHERE (the swap/delete path must
    * route through [[trash]] so deletes can be deferred for every
    * open reader's pinned snapshot — primary pins AND secondary read
    * pins — not just the current connection's undo). */
  def isActive: Boolean = synchronized { open || secs.nonEmpty }

  /** Runs `body` as a SECOND logical connection: its swaps defer
    * deletes for the open reader's pins but record NO undo — a
    * concurrent writer's commit survives this transaction's
    * ROLLBACK, exactly as in the reference. */
  def foreign[T](body: => T): T = {
    foreignMode.set(true)
    try body finally foreignMode.set(false)
  }

  def begin(): Unit = begin(null)

  def begin(spark: SparkSession): Unit = synchronized {
    val n = connId.get()
    if (n > 0) { beginSecondary(spark, n); return }
    require(!open, "BEGIN: a transaction is already active")
    open = true
    undo.clear()
    primReplaced.clear(); primCreated.clear(); primPreWrite.clear()
    pins.clear()
    session = spark
    if (spark != null) pinCatalogTables(spark)
  }

  /** BEGIN on a secondary connection: snapshot every managed table's
    * file list. The listing is both the write-conflict baseline AND
    * (r11) the connection's read snapshot — reads on this thread
    * resolve to exactly these files via the analyzer hook
    * (plans/SecondarySnapshot; the one temp-view namespace belongs to
    * the primary's pins, so secondaries pin at plan-resolution time
    * instead of with shadow views). */
  private def beginSecondary(spark: SparkSession, n: Int): Unit = {
    require(!secs.contains(n), s"BEGIN: connection $n already has an active transaction")
    val tx = new SecTx(n)
    if (spark != null) {
      val cat = spark.sessionState.catalog
      cat.listTables(cat.getCurrentDatabase).foreach { id =>
        if (!cat.isTempView(id) || isPinned(id.table)) {
          try {
            val meta = cat.getTableMetadata(id)
            if (meta.provider.exists(_.equalsIgnoreCase("parquet"))) {
              val path = meta.location.toString
              val files = dataFiles(spark, path)
              tx.beginListing(key(path)) = files.toSet
              tx.paths(key(path)) = path
              tx.names(key(path)) = id.unquotedString
              if (files.nonEmpty) tx.readPin(key(path)) = files
            }
          } catch { case _: Exception => }
        }
      }
    }
    secs(n) = tx
  }

  /** Normed table root → pinned file list for the CURRENT thread's
    * open secondary transaction (consulted by the analyzer hook on
    * every plan resolution; empty when the thread has no secondary
    * transaction). Keys and files are URI-path-normed. */
  def threadReadPins: Map[String, Seq[String]] = synchronized {
    secs.get(connId.get()) match {
      case Some(tx) => tx.readPin.map { case (k, v) => norm(k) -> v }.toMap
      case None => Map.empty
    }
  }

  /** Re-point every live secondary transaction's read pin after a
    * writer renamed `from` to `to` under `path`'s trash. */
  private def repointSecs(path: String, from: String, to: String): Unit = {
    val kn = norm(key(path))
    secs.values.foreach { tx =>
      tx.readPin.keys.find(k => norm(k) == kn).foreach { k =>
        tx.readPin(k) = tx.readPin(k).map(f => if (norm(f) == norm(from)) to else f)
      }
    }
  }

  /** Some live secondary transaction's read pin still maps `file`. */
  private def pinnedBySecs(path: String, file: String): Boolean = {
    val kn = norm(key(path))
    val fn = norm(file)
    secs.values.exists(_.readPin.exists { case (k, fs) =>
      norm(k) == kn && fs.exists(norm(_) == fn)
    })
  }

  /** Snapshot every managed table in the current database behind a
    * shadowing temp view over its exact file list. Empty tables are
    * not pinned (nothing to protect; parquet cannot infer an empty
    * schema from zero files). */
  private def pinCatalogTables(spark: SparkSession): Unit = {
    val cat = spark.sessionState.catalog
    cat.listTables(cat.getCurrentDatabase).foreach { id =>
      if (!cat.isTempView(id)) {
        try {
          val meta = cat.getTableMetadata(id)
          if (meta.provider.exists(_.equalsIgnoreCase("parquet"))) {
            val path = meta.location.toString
            val files = dataFiles(spark, path)
            if (files.nonEmpty) {
              val pin = Pin(id.table, path, files, active = true)
              pins(key(path)) = pin
              Catalog.parquet(spark, files: _*).createOrReplaceTempView(id.table)
            }
          }
        } catch { case _: Exception => } // views/odd providers: not pinned
      }
    }
  }

  /** Drop a table's pin (own-write visibility / DML target
    * resolution) — reads go back to the live listing. A FOREIGN
    * writer must NOT unpin: the pin is precisely what keeps the open
    * reader's snapshot view alive against that writer's swaps. */
  def unpin(spark: SparkSession, tableName: String): Unit = synchronized {
    // foreign writers AND secondary transactions must not unpin: the
    // pin is what keeps the PRIMARY's snapshot alive against them
    if (foreignMode.get() || secs.contains(connId.get())) return
    pins.values.find(p => p.active && p.name == tableName).foreach { p =>
      p.active = false
      spark.catalog.dropTempView(p.name)
    }
  }

  /** True when `tableName` is currently shadowed by a pin's snapshot
    * view — DmlSql.tablePath uses this to resolve the UNDERLYING
    * catalog table for a foreign writer (whose unpin is a no-op)
    * instead of refusing with a misleading temp-view error. */
  def isPinned(tableName: String): Boolean = synchronized {
    pins.values.exists(p => p.active && p.name == tableName)
  }

  private def unpinByPath(spark: SparkSession, path: String): Unit =
    pins.get(key(path)).filter(_.active).foreach { p =>
      p.active = false
      spark.catalog.dropTempView(p.name)
    }

  /** A foreign writer renamed `from` to `to` under the pin-trash —
    * re-point the open reader's view at the moved bytes. */
  private def repoint(spark: SparkSession, path: String,
      from: String, to: String): Unit =
    pins.get(key(path)).filter(_.active).foreach { p =>
      p.files = p.files.map(f => if (norm(f) == norm(from)) to else f)
      Catalog.parquet(spark, p.files: _*).createOrReplaceTempView(p.name)
    }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(spark: SparkSession, path: String): Seq[String] =
    Catalog.dataFiles(spark, path).map(_.getPath.toString)

  private val foreignTouched = mutable.LinkedHashSet.empty[String]

  /** Record the table's pre-mutation file list, once per table per
    * transaction. No-op outside a transaction. A foreign writer
    * records no undo (its commit must survive ROLLBACK); the
    * transaction's own writes also unpin the table so it reads its
    * own mutations.
    */
  def touch(spark: SparkSession, path: String): Unit = touch(spark, path, Nil)

  /** `replacing`: the files the statement is about to rewrite/delete
    * (known before any mutation) — conflicts raise HERE, before the
    * append, so a failed statement leaves both the table and the
    * transaction intact (the reference's statement-level atomicity:
    * after "Conflict on update!" the transaction still commits its
    * earlier writes).
    */
  def touch(spark: SparkSession, path: String, replacing: Seq[String]): Unit = synchronized {
    val k = key(path)
    secs.get(connId.get()) match {
      case Some(tx) => touchSecondary(spark, tx, path, replacing); return
      case None =>
    }
    // a LIVE secondary transaction's written FILES conflict with
    // every other writer (primary, foreign one-shot, autocommit) —
    // r13: file granularity, like the secondary-vs-secondary rule.
    // Replacing a file another live transaction replaced or created
    // would entangle the two undos; disjoint files commute. A pure
    // INSERT (empty replacing) never conflicts with live appends.
    val replacingNAll = replacing.map(norm).toSet
    if (secs.values.exists { o =>
      o.written.contains(k) && {
        val oR = o.replaced.getOrElse(k, mutable.Set.empty[String])
        val oC = o.createdSet(k).map(norm)
        (replacingNAll & oR.toSet).nonEmpty || (replacingNAll & oC.toSet).nonEmpty
      }
    })
      throw new IllegalStateException(
        s"Conflict on update! table at $k was already modified by a " +
        "concurrent transaction")
    if (open && foreignMode.get()) {
      // mixed own+foreign writes to ONE table cannot both keep their
      // guarantees (the foreign commit must survive ROLLBACK, but the
      // own undo tracks the same files) — the reference raises a
      // write-write conflict here (duck_transaction_manager.cpp /
      // "Conflict on tuple" in test/sql/transactions)
      if (undo.contains(k))
        throw new IllegalStateException(
          s"write-write conflict: table at $k was already " +
          "modified by the open transaction")
      foreignTouched += k
    } else if (open) {
      if (foreignTouched.contains(k))
        throw new IllegalStateException(
          s"write-write conflict: table at $k was already " +
          "modified by a concurrent transaction")
      unpinByPath(spark, path)
      if (!undo.contains(k))
        undo(k) = TableUndo(path, dataFiles(spark, path).toSet)
      // replacing a file that is neither in the snapshot nor created
      // by this transaction = it was committed by a concurrent
      // transaction after this one's first touch — conflict (the
      // secondary-side begin-listing rule, mirrored)
      val snapN = undo(k).snapshot.map(norm)
      val ownN = primCreated.getOrElse(k,
        mutable.LinkedHashSet.empty[String]).map(norm)
      replacing.foreach { f =>
        if (!snapN.contains(norm(f)) && !ownN.contains(norm(f)))
          throw new IllegalStateException(
            s"Conflict on update! file $f was created after this " +
            "transaction began (committed by a concurrent transaction)")
      }
      primReplaced.getOrElseUpdate(k, mutable.Set.empty[String]) ++= replacingNAll
      primPreWrite(k) = dataFiles(spark, path).toSet
    }
  }

  /** Write-time conflict detection for a secondary transaction —
    * semantics pinned against two python-duckdb connections: the
    * LATER writer errors immediately, at table granularity between
    * two live transactions and at file granularity against commits
    * that landed after this transaction's BEGIN.
    */
  private def touchSecondary(spark: SparkSession, tx: SecTx,
      path: String, replacing: Seq[String]): Unit = {
    val k = key(path)
    val replacingN = replacing.map(norm).toSet
    // vs the open PRIMARY transaction: FILE granularity (r13) — only
    // the files the primary replaced or created are off-limits;
    // disjoint-row writers on a split table both commit
    if (open && undo.contains(k)) {
      val pR = primReplaced.getOrElse(k, mutable.Set.empty[String])
      val pC = primCreated.getOrElse(k,
        mutable.LinkedHashSet.empty[String]).map(norm)
      if ((replacingN & pR.toSet).nonEmpty || (replacingN & pC.toSet).nonEmpty)
        throw new IllegalStateException(
          s"Conflict on update! table at $k was already modified by the " +
          "open transaction")
    }
    // between two LIVE secondaries the conflict unit is the FILE
    // (r12): each side's undo restores only its own trash subdir, so
    // disjoint replaced-file sets commute — updates to disjoint rows
    // of a split table both commit (the reference's row-level MVCC
    // granularity, reached at file granularity). Overlapping replaced
    // files — or a second INSERT-vs-REPLACE on a file the other side
    // replaced — still conflict like before. The PRIMARY transaction
    // keeps table granularity: its rollback restores the whole BEGIN
    // listing, which cannot coexist with a concurrent commit.
    secs.values.find(o => (o ne tx) && o.written.contains(k) && {
      val otherReplaced = o.replaced.getOrElse(k, mutable.Set.empty[String])
      // a file the other live transaction CREATED but has not yet
      // committed is also off-limits (r13, advice): it is physically
      // present (so it lands in this tx's begin listing), but
      // replacing it would move it into THIS tx's trash — the other
      // side's ROLLBACK could then no longer delete it and its
      // rolled-back rows would survive, an atomicity violation.
      val otherCreated = o.createdSet(k).map(norm)
      (replacingN & otherReplaced.toSet).nonEmpty ||
        (replacingN & otherCreated.toSet).nonEmpty ||
        // a pure INSERT on the other side never blocks; but if either
        // side REPLACED files while the other replaces an overlapping
        // region the begin-listing check below catches stale files —
        // the only remaining table-level case is both sides rewriting
        // with one side's hit list UNKNOWN (defensive: empty replacing
        // against a writer that replaced files is an insert → allow)
        false
    }).foreach { _ =>
      throw new IllegalStateException(
        s"Conflict on update! table at $k was already modified by a " +
        "concurrent transaction")
    }
    val begin = tx.beginListing.getOrElseUpdate(k, dataFiles(spark, path).toSet)
    tx.paths.getOrElseUpdate(k, path)
    val beginN = begin.map(norm)
    val ownN = tx.createdSet(k).map(norm)
    replacing.foreach { f =>
      if (!beginN.contains(norm(f)) && !ownN.contains(norm(f)))
        throw new IllegalStateException(
          s"Conflict on update! file $f was created after this " +
          "transaction began (committed by a concurrent transaction)")
    }
    tx.written += k
    tx.replaced.getOrElseUpdate(k, mutable.Set.empty[String]) ++= replacingN
    // own-write visibility: reads on this connection now follow the
    // live listing (its replaced files are hidden in trash anyway)
    tx.readPin.remove(k)
    tx.preWrite(k) = dataFiles(spark, path).toSet
  }

  /** Post-write hook (Dml): record the files the statement created —
    * a secondary transaction's ROLLBACK deletes exactly these, never
    * a concurrent transaction's additions. */
  def wrote(spark: SparkSession, path: String): Unit = synchronized {
    secs.get(connId.get()) match {
      case Some(tx) =>
        val k = key(path)
        if (tx.written.contains(k)) {
          val pre = tx.preWrite.getOrElse(k, Set.empty).map(norm)
          dataFiles(spark, path).foreach { f =>
            if (!pre.contains(norm(f))) tx.createdSet(k) += f
          }
        }
      case None =>
        // r13: the PRIMARY tracks its created files the same way —
        // its ROLLBACK deletes exactly these (never a concurrent
        // secondary's committed additions)
        val k = key(path)
        if (open && !foreignMode.get() && undo.contains(k)) {
          val pre = primPreWrite.getOrElse(k, Set.empty).map(norm)
          dataFiles(spark, path).foreach { f =>
            if (!pre.contains(norm(f)))
              primCreated.getOrElseUpdate(k,
                mutable.LinkedHashSet.empty[String]) += f
          }
        }
    }
  }

  private def key(path: String) = path.stripSuffix("/")

  /** Filesystem-path normal form — Spark's `_metadata.file_path`
    * ("file:///x") and Hadoop listings ("file:/x") must compare equal. */
  private def norm(f: String): String = new Path(f).toUri.getPath

  private def trashDir(path: String) = new Path(path, ".graft_trash")

  /** Defer a file's deletion to COMMIT: move it into the table's
    * hidden trash dir. A file that is NOT in the BEGIN snapshot was
    * created inside this transaction — replacing it needs no undo, so
    * it deletes outright (trashing it would make ROLLBACK restore an
    * intermediate state: the file exists in neither the BEGIN nor the
    * would-be-committed file set). Caller guarantees [[touch]] ran
    * first.
    */
  def trash(spark: SparkSession, path: String, file: String): Unit = {
    val hfs = fs(spark, path)
    val secOpt = synchronized { secs.get(connId.get()) }
    secOpt match {
      case Some(tx) => trashSecondary(spark, tx, path, file); return
      case None =>
    }
    if (foreignMode.get() || !open) {
      // concurrent-writer path (foreign one-shot, or an autocommit
      // statement while another connection holds an open reader):
      // the delete is deferred ONLY to keep open readers' pinned
      // snapshots readable — rename under the pin-trash and re-point
      // every pin at the moved bytes
      val pinnedHere = synchronized {
        pins.get(key(path)).exists(p =>
          p.active && p.files.exists(norm(_) == norm(file))) ||
        pinnedBySecs(path, file)
      }
      if (!pinnedHere) {
        hfs.delete(new Path(file), false)
        return
      }
      val dir = new Path(trashDir(path), "pin")
      if (!hfs.exists(dir)) hfs.mkdirs(dir)
      val src = new Path(file)
      val dst = new Path(dir, src.getName)
      require(hfs.rename(src, dst), s"txn: failed to pin-trash $file")
      synchronized {
        repoint(spark, path, file, dst.toString)
        repointSecs(path, file, dst.toString)
      }
      return
    }
    val inSnapshot = synchronized {
      undo.get(key(path)).exists(_.snapshot.contains(file))
    }
    if (!inSnapshot) {
      // created inside this transaction — but a secondary reader that
      // began mid-transaction may still pin it
      if (synchronized { pinnedBySecs(path, file) }) {
        val dir = new Path(trashDir(path), "pin")
        if (!hfs.exists(dir)) hfs.mkdirs(dir)
        val src = new Path(file)
        val dst = new Path(dir, src.getName)
        require(hfs.rename(src, dst), s"txn: failed to pin-trash $file")
        synchronized { repointSecs(path, file, dst.toString) }
      } else hfs.delete(new Path(file), false)
      return
    }
    val dir = trashDir(path)
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val src = new Path(file)
    val dst = new Path(dir, src.getName)
    require(hfs.rename(src, dst), s"txn: failed to trash $file")
    synchronized { repointSecs(path, file, dst.toString) }
  }

  /** Secondary-transaction undo: files from the BEGIN listing move to
    * the connection's own trash subdir (restored on ROLLBACK, deleted
    * on COMMIT); the transaction's own intermediate files delete
    * outright. The primary's pinned snapshot is re-pointed either way.
    */
  private def trashSecondary(spark: SparkSession, tx: SecTx,
      path: String, file: String): Unit = synchronized {
    val hfs = fs(spark, path)
    val k = key(path)
    val beginN = tx.beginListing.getOrElse(k, Set.empty).map(norm)
    if (!beginN.contains(norm(file))) {
      require(tx.createdSet(k).exists(norm(_) == norm(file)),
        s"Conflict on update! file $file belongs to a concurrent transaction")
      hfs.delete(new Path(file), false)
      return
    }
    val dir = new Path(trashDir(path), s"sec${tx.conn}")
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val src = new Path(file)
    val dst = new Path(dir, src.getName)
    require(hfs.rename(src, dst), s"txn: failed to trash $file")
    repoint(spark, path, file, dst.toString)
    repointSecs(path, file, dst.toString)
  }

  private def commitSecondary(spark: SparkSession, tx: SecTx): Unit = {
    tx.written.foreach { k =>
      val p = tx.paths(k)
      val hfs = fs(spark, p)
      val dir = new Path(trashDir(p), s"sec${tx.conn}")
      if (hfs.exists(dir)) {
        val it = hfs.listFiles(dir, false)
        while (it.hasNext) {
          val st = it.next()
          val f = st.getPath.toString
          val pinnedHere = pins.get(k).exists(o =>
            o.active && o.files.exists(norm(_) == norm(f))) ||
            pinnedBySecs(p, f)
          if (pinnedHere) {
            // an open reader (primary pin or another secondary's read
            // pin) still maps this file — adopt the pin-trash protocol
            // and defer the delete to ITS end
            val pinDir = new Path(trashDir(p), "pin")
            if (!hfs.exists(pinDir)) hfs.mkdirs(pinDir)
            val dst = new Path(pinDir, st.getPath.getName)
            require(hfs.rename(st.getPath, dst), s"txn: failed to pin-defer $f")
            repoint(spark, p, f, dst.toString)
            repointSecs(p, f, dst.toString)
          } else hfs.delete(st.getPath, false)
        }
        hfs.delete(dir, true)
      }
      // the primary's own later write to this table must conflict —
      // this commit happened inside its transaction window
      if (open) foreignTouched += k
      refreshEnded(spark, tx, k, p)
    }
    secs.remove(tx.conn)
    sweepPins(spark, tx)
  }

  /** Invalidate both cache layers for a table this transaction
    * touched: refreshByPath alone does NOT drop a catalog table's
    * cached relation, so a plan resolved mid-transaction (e.g. the
    * transaction's own post-write read) would keep serving a file
    * list containing files this end-of-transaction just deleted. */
  private def refreshEnded(spark: SparkSession, tx: SecTx,
      k: String, p: String): Unit = {
    try spark.catalog.refreshByPath(p) catch { case _: Exception => }
    tx.names.get(k).foreach { n =>
      try spark.catalog.refreshTable(n) catch { case _: Exception => }
    }
  }

  /** A secondary transaction ended: pin-trash files that no remaining
    * reader (primary pin or live secondary read pin) maps are the
    * deferred deletes whose last reader just left — delete them. */
  private def sweepPins(spark: SparkSession, ended: SecTx): Unit =
    ended.paths.foreach { case (k, p) =>
      val hfs = fs(spark, p)
      val pinDir = new Path(trashDir(p), "pin")
      if (hfs.exists(pinDir)) {
        hfs.listStatus(pinDir).foreach { f =>
          val fn = f.getPath.toString
          val stillPinned =
            pins.get(key(p)).exists(o =>
              o.active && o.files.exists(norm(_) == norm(fn))) ||
            pinnedBySecs(p, fn)
          if (!stillPinned) hfs.delete(f.getPath, false)
        }
        if (hfs.listStatus(pinDir).isEmpty) hfs.delete(pinDir, true)
      }
      val dir = trashDir(p)
      if (hfs.exists(dir) && hfs.listStatus(dir).isEmpty)
        hfs.delete(dir, true)
      refreshEnded(spark, ended, k, p)
    }

  private def rollbackSecondary(spark: SparkSession, tx: SecTx): Unit = {
    tx.written.foreach { k =>
      val p = tx.paths(k)
      val hfs = fs(spark, p)
      // drop exactly the files THIS transaction created — never a
      // concurrent transaction's additions
      tx.createdSet(k).foreach(f => hfs.delete(new Path(f), false))
      val dir = new Path(trashDir(p), s"sec${tx.conn}")
      if (hfs.exists(dir)) {
        val it = hfs.listFiles(dir, false)
        while (it.hasNext) {
          val st = it.next()
          val dst = new Path(p, st.getPath.getName)
          require(hfs.rename(st.getPath, dst), s"txn: failed to restore ${st.getPath}")
          repoint(spark, p, st.getPath.toString, dst.toString)
          repointSecs(p, st.getPath.toString, dst.toString)
        }
        hfs.delete(dir, true)
      }
      refreshEnded(spark, tx, k, p)
    }
    secs.remove(tx.conn)
    sweepPins(spark, tx)
  }

  private def dropPins(spark: SparkSession): Unit = {
    pins.values.filter(_.active).foreach(p => spark.catalog.dropTempView(p.name))
    // invalidate cached file indexes for every pinned table — a
    // foreign writer's pin-trash renames are purged by now, so any
    // relation resolved mid-transaction holds dead file paths
    pins.values.foreach { p =>
      try spark.catalog.refreshTable(p.name) catch { case _: Exception => }
    }
    pins.clear()
  }

  private def purgeTrash(spark: SparkSession, paths: Iterable[String]): Unit =
    paths.foreach { p =>
      val hfs = fs(spark, p)
      val dir = trashDir(p)
      if (hfs.exists(dir)) {
        // a LIVE secondary transaction's undo subdir must survive the
        // primary's purge (its rollback still needs those files), and
        // so must pin/ files a live secondary's read pin still maps
        val live = secs.values.map(t => s"sec${t.conn}").toSet
        hfs.listStatus(dir).foreach { st =>
          if (st.isDirectory && live.contains(st.getPath.getName)) {
            // keep: live secondary undo
          } else if (st.isDirectory && st.getPath.getName == "pin") {
            hfs.listStatus(st.getPath).foreach { f =>
              if (!pinnedBySecs(p, f.getPath.toString))
                hfs.delete(f.getPath, false)
            }
            if (hfs.listStatus(st.getPath).isEmpty)
              hfs.delete(st.getPath, true)
          } else if (st.isFile && pinnedBySecs(p, st.getPath.toString)) {
            // a top-level trashed file (this transaction's own swap)
            // that a mid-transaction secondary reader pinned — defer
            // its delete to that reader's end under pin/
            val pinDir = new Path(dir, "pin")
            if (!hfs.exists(pinDir)) hfs.mkdirs(pinDir)
            val dst = new Path(pinDir, st.getPath.getName)
            require(hfs.rename(st.getPath, dst),
              s"txn: failed to pin-defer ${st.getPath}")
            repointSecs(p, st.getPath.toString, dst.toString)
          } else hfs.delete(st.getPath, true)
        }
        if (hfs.listStatus(dir).isEmpty) hfs.delete(dir, true)
      }
      // the session catalog caches resolved file indexes — a reader
      // that resolved the table mid-transaction must re-list now that
      // the pin-trash (a foreign writer's deferred deletes) is gone
      spark.catalog.refreshByPath(p)
    }

  def commit(spark: SparkSession): Unit = synchronized {
    secs.get(connId.get()) match {
      case Some(tx) => commitSecondary(spark, tx); return
      case None =>
    }
    require(open, "COMMIT: no active transaction")
    purgeTrash(spark, undo.values.map(_.path) ++ foreignTouched)
    dropPins(spark)
    undo.clear()
    primReplaced.clear(); primCreated.clear(); primPreWrite.clear()
    foreignTouched.clear()
    open = false
    session = null
  }

  def rollback(spark: SparkSession): Unit = synchronized {
    secs.get(connId.get()) match {
      case Some(tx) => rollbackSecondary(spark, tx); return
      case None =>
    }
    require(open, "ROLLBACK: no active transaction")
    undo.foreach { case (k, u) =>
      val hfs = fs(spark, u.path)
      // drop the files THIS transaction created (tracked at each
      // statement's wrote() hook) — not every file absent from the
      // snapshot: a concurrent secondary's committed files on
      // disjoint rows survive this rollback (r13 file-level undo)
      val created = primCreated.getOrElse(k,
        mutable.LinkedHashSet.empty[String]).map(norm)
      dataFiles(spark, u.path)
        .filter(f => created.contains(norm(f)) ||
          (!u.snapshot.contains(f) && created.isEmpty &&
            primReplaced.getOrElse(k, mutable.Set.empty[String]).isEmpty))
        .foreach(f => hfs.delete(new Path(f), false))
      // restore the trashed originals (the non-recursive file listing
      // skips the pin/ subdir — foreign writers' committed swaps are
      // NOT restored, matching the reference: rollback undoes only
      // this transaction's own writes)
      val dir = trashDir(u.path)
      if (hfs.exists(dir)) {
        val it = hfs.listFiles(dir, false)
        while (it.hasNext) {
          val st = it.next()
          val dst = new Path(u.path, st.getPath.getName)
          require(hfs.rename(st.getPath, dst),
            s"txn: failed to restore ${st.getPath}")
          repointSecs(u.path, st.getPath.toString, dst.toString)
        }
        // the non-file entries (pin/, secN/) survive: pin/ holds
        // foreign writers' committed swaps still mapped by open
        // readers, secN/ a live secondary's own undo
        if (hfs.listStatus(dir).isEmpty) hfs.delete(dir, true)
      }
      spark.catalog.refreshByPath(u.path)
    }
    purgeTrash(spark, foreignTouched)
    dropPins(spark)
    undo.clear()
    primReplaced.clear(); primCreated.clear(); primPreWrite.clear()
    foreignTouched.clear()
    open = false
    session = null
  }
}
