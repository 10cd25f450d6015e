package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** UPDATE / DELETE / MERGE over parquet tables as copy-on-write file
  * rewrites — the reference's persistent DML surface
  * (/root/reference/src/execution/operator/persistent/physical_update.cpp,
  * physical_delete.cpp, physical_insert.cpp's ON CONFLICT path)
  * re-expressed for an immutable columnar store.
  *
  * Scale design: a DML touching 0.1% of a 100 TB table must NOT
  * rewrite 100 TB. Every operation here first finds the HIT FILES —
  * the parquet files that contain at least one matching row — via a
  * predicate-pushed scan projecting `_metadata.file_path` (row-group
  * stats make this cheap), then rewrites ONLY those files:
  * new part files are appended to the table directory and the hit
  * files are deleted. Untouched files are never read twice, never
  * rewritten. This is the same copy-on-write contract Delta/Iceberg
  * implement; here the "commit" is the file swap itself.
  *
  * Posture (documented, SURVEY §5): no MVCC — a reader concurrent
  * with the swap can see both old and new files. The reference gets
  * isolation from its transaction manager
  * (/root/reference/src/transaction/duck_transaction_manager.cpp);
  * a production Spark deployment would get it from a table format's
  * log. Batch-pipeline semantics (one writer, readers between jobs)
  * are exact.
  *
  * Crash window, stated honestly: [[swap]] appends the rewritten
  * files BEFORE deleting the hit files, so a crash between the two
  * leaves BOTH visible — readers see the hit files' rows TWICE (old
  * and rewritten), not merely "extra stale files". No committed row is
  * ever lost, and recovery is mechanical (delete the still-listed hit
  * files, or re-run), but re-running only converges for idempotent
  * SET expressions: an UPDATE like `amt = amt + 100` re-applied after
  * a partial failure double-applies. A production deployment stages
  * new files under a temp prefix and commits via a manifest/rename
  * (Delta/Iceberg's log) so readers never see old+new together; that
  * log is exactly the piece this copy-on-write core plugs under.
  */
object Dml {

  /** Above this fraction of the table's files hit, the file-pruned
    * path stops paying: collecting ~1M path strings to the driver and
    * planning a million-path `parquet(paths*)` scan costs more than
    * rewriting the remainder. Past it we rewrite from the ROOT path
    * (one-path plan, still one scan) and swap out every data file.
    */
  val HitFractionGuard = 0.5

  /** Hard cap on the hit-file path list, independent of table size: a
    * million-path `parquet(paths*)` plan and a million driver strings
    * are a planner problem even when they are a small table fraction.
    */
  val MaxHitFileList = 100000

  /** Rows rewritten / files rewritten / rows appended, for observability
    * ("how much of the table did this DML touch").
    */
  case class DmlStats(hitFiles: Long, rowsRewritten: Long, rowsInserted: Long)

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All data files under the table root — the same driver-side
    * metadata listing any table-format planner performs. Bounded by
    * file count; used to size the hit-fraction guard and as the swap
    * list for full rewrites.
    */
  private def tableFiles(spark: SparkSession, path: String): Seq[String] =
    Catalog.dataFiles(spark, path).map(_.getPath.toString)

  /** The rewrite scan + the files it will replace. Selective DML gets
    * the file-pruned path (scan only hit files); past the guard —
    * more than [[HitFractionGuard]] of the table's files hit, or more
    * than [[MaxHitFileList]] paths — it degrades to ONE root-path scan
    * that rewrites the whole table, which at that hit rate is cheaper
    * than collecting and re-planning a huge path list. The collect is
    * `limit(threshold+1)`-bounded, so the driver never materializes
    * more paths than the guard allows even on a pathological table.
    */
  private def rewriteScan(spark: SparkSession, path: String,
                          hitPaths: DataFrame): Option[(DataFrame, Seq[String])] = {
    val all = tableFiles(spark, path)
    val threshold =
      math.min(math.max(1L, (all.size * HitFractionGuard).toLong), MaxHitFileList.toLong).toInt
    val hits = hitPaths.limit(threshold + 1).collect().map(_.getString(0)).toSeq
    if (hits.isEmpty) None
    else if (hits.size > threshold) Some((Catalog.parquet(spark, path), all))
    else Some((Catalog.parquet(spark, hits: _*), hits))
  }

  /** Files containing ≥1 row matching `cond` — predicate-pushed scan,
    * file paths only (never row data).
    */
  private def hitFilePaths(spark: SparkSession, path: String, cond: Column): DataFrame =
    Catalog.parquet(spark, path)
      .filter(cond)
      .select(col("_metadata.file_path"))
      .distinct()

  /** Cap on rows per written file for every DML write. The conflict
    * granularity of this copy-on-write layer is the FILE (Txn.touch
    * raises when two writers replace the same file — the reference's
    * row-level MVCC never conflicts on disjoint rows). Smaller
    * rewrite units narrow that gap: after any DML pass, disjoint-row
    * writers touch disjoint files and both commit. Tunable per
    * session (spark.graft.dml.maxFileRows); the default keeps files
    * comfortably sized while bounding the blast radius of one file.
    */
  val DefaultMaxFileRows: Long = 1L << 20

  private def maxFileRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dml.maxFileRows")
      .map(_.toLong).getOrElse(DefaultMaxFileRows)

  /** Append `df` as new part files, then delete `oldFiles`. Write
    * happens BEFORE delete so a crash never loses a committed row —
    * but see the object scaladoc for the honest crash window: between
    * the two steps old AND rewritten rows are both visible.
    */
  private def swap(spark: SparkSession, path: String,
                   df: DataFrame, oldFiles: Seq[String]): Unit = {
    // conflicts (a concurrent transaction wrote these files) raise
    // HERE, before the append — the statement leaves no trace
    Txn.touch(spark, path, oldFiles)
    df.write.mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxFileRows(spark))
      .parquet(path)
    // Txn deletes each replaced file, or defers the delete for the
    // open transaction's ROLLBACK or an open reader's snapshot
    oldFiles.foreach(f => Txn.retire(spark, path, f))
    Txn.wrote(spark, path)
  }

  private val Matched = "__dml_matched"

  /** `hit` with `cond` (NULL as false) as a column: the observed count
    * and the rewrite read the column, so an `IN (SELECT …)` predicate
    * sits in a projection, where Spark allows it, and not inside the
    * observed aggregate, where it does not. */
  private def matched(hit: DataFrame, cond: Column): DataFrame =
    hit.withColumn(Matched, coalesce(cond, lit(false)))

  /** UPDATE <path> SET <set> WHERE <cond>. Only hit files are
    * rewritten; non-matching rows in a hit file are carried through
    * unchanged. Stats come from an `observe` on the rewrite job
    * itself — no second pass over the data.
    */
  def update(spark: SparkSession, path: String,
             cond: Column, set: Map[String, Column]): DmlStats =
    rewriteScan(spark, path, hitFilePaths(spark, path, cond)) match {
      case None => DmlStats(0, 0, 0)
      case Some((hit, files)) =>
        val obs = Observation()
        val observed = matched(hit, cond).observe(obs,
          sum(when(col(Matched), 1L).otherwise(0L)).as("n"))
        val cols = hit.columns.map { c =>
          set.get(c) match {
            case Some(v) => when(col(Matched), v).otherwise(col(c)).as(c)
            case None    => col(c)
          }
        }
        swap(spark, path, observed.select(cols.toIndexedSeq: _*), files)
        DmlStats(files.size, obs.get("n").asInstanceOf[Long], 0)
    }

  /** DELETE FROM <path> WHERE <cond>: hit files are rewritten with
    * the matching rows dropped. The deleted-row count is observed on
    * the rewrite job, not recomputed.
    */
  def delete(spark: SparkSession, path: String, cond: Column): DmlStats =
    rewriteScan(spark, path, hitFilePaths(spark, path, cond)) match {
      case None => DmlStats(0, 0, 0)
      case Some((hit, files)) =>
        val obs = Observation()
        val observed = matched(hit, cond).observe(obs,
          sum(when(col(Matched), 1L).otherwise(0L)).as("n"))
        swap(spark, path, observed.filter(!col(Matched)).drop(Matched), files)
        DmlStats(files.size, obs.get("n").asInstanceOf[Long], 0)
    }

  /** PRIMARY KEY uniqueness audit: every key value held by more than
    * one row, with its multiplicity. The reference enforces PK via an
    * ART index probe per insert
    * (/root/reference/src/execution/index/art/art.cpp); on an
    * immutable columnar store the equivalent read-side check is one
    * hash aggregation over the key columns — partial (map-side)
    * combine means only distinct keys shuffle, so a clean 100 TB
    * table shuffles exactly its key cardinality.
    */
  def pkViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** INSERT INTO <path> with optional PK enforcement — the write-side
    * half of the reference's constraint checking (physical_insert.cpp
    * probes the ART index and errors on conflict). With `pk` set, the
    * batch is rejected (nothing written) if it collides with itself or
    * with any existing key. The existing-key probe is a key-only semi
    * join: just the key columns of the table are scanned and only
    * matching keys survive, no full-row shuffle. The check and the
    * append are two steps — same single-writer posture as the rest of
    * this object; a table format's log would make them one commit.
    */
  def insert(spark: SparkSession, path: String, rows: DataFrame,
             pk: Seq[String] = Nil): DmlStats = {
    if (pk.nonEmpty) {
      val selfDup = pkViolations(rows, pk).limit(1).count()
      require(selfDup == 0,
        s"INSERT batch violates PRIMARY KEY (${pk.mkString(", ")}): duplicate keys within the batch")
      // a freshly-created table has no data files — nothing to clash
      // with, and parquet can't infer a schema from an empty dir
      if (tableFiles(spark, path).nonEmpty) {
        val existing = Catalog.parquet(spark, path)
          .select(pk.map(col).toIndexedSeq: _*)
        val clash = rows.select(pk.map(col).toIndexedSeq: _*)
          .join(existing, pk, "left_semi").limit(1).count()
        require(clash == 0,
          s"INSERT violates PRIMARY KEY (${pk.mkString(", ")}): key already present in table")
      }
    }
    val obs = Observation()
    Txn.touch(spark, path)
    rows.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxFileRows(spark))
      .parquet(path)
    Txn.wrote(spark, path)
    DmlStats(0, 0, obs.get("n").asInstanceOf[Long])
  }

  /** Small-files compaction — the OPTIMIZE/CHECKPOINT counterpart of
    * this copy-on-write DML layer (the reference reclaims space via
    * CHECKPOINT/VACUUM, duck_transaction_manager.cpp's checkpoint
    * path; Delta calls it OPTIMIZE). Repeated UPDATE/MERGE/INSERT
    * appends accumulate small part files; this rewrites the table into
    * ⌈bytes/targetBytes⌉ files using the same write-before-delete swap
    * as every other operation here. The rewrite scan pins the ORIGINAL
    * file list at plan time, so appending the compacted files to the
    * same directory never feeds the scan its own output. No-op when
    * the table already meets the target file count.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): DmlStats = {
    val root = fs(spark, path).makeQualified(new Path(path))
    val files = Catalog.dataFiles(spark, path).map { st =>
      // Hive-partitioned layouts are unsupported: reading leaf files
      // without basePath would drop the partition columns and the
      // swap would silently destroy them. Refuse rather than corrupt.
      require(st.getPath.getParent == root,
        s"compact: $path is partitioned (found ${st.getPath} under a " +
          "subdirectory); compact supports flat tables only")
      (st.getPath.toString, st.getLen)
    }
    val totalBytes = files.map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (files.size <= nOut) return DmlStats(0, 0, 0)
    val obs = Observation()
    val compacted = Catalog.parquet(spark, files.map(_._1): _*)
      .observe(obs, count(lit(1)).as("n"))
      .repartition(nOut)
    swap(spark, path, compacted, files.map(_._1))
    DmlStats(files.size.toLong, obs.get("n").asInstanceOf[Long], 0)
  }

  /** MERGE INTO <path> t USING <source> s ON t.<on> = s.<on>
    *   WHEN MATCHED THEN UPDATE SET <set>   (source columns via `s`)
    *   WHEN NOT MATCHED THEN INSERT (all target columns from source).
    *
    * `set` maps target column → expression over the joined row
    * (reference source columns with their source names). Inserted
    * rows take the source's values for the target's columns.
    *
    * Hit files are files holding ≥1 matched key, found with a
    * broadcast-friendly semi join. A source key absent from every hit
    * file is absent from the whole table (any file containing it
    * would be a hit), so the not-matched side anti-joins the hit
    * files only — the full table is scanned exactly once, for the
    * file-level probe.
    *
    * `source` must be unique per key (classic MERGE cardinality rule;
    * enforced here — the reference errors the same way).
    */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            on: Seq[String], set: Map[String, Column],
            targetAlias: String = "t", sourceAlias: String = "excluded"): DmlStats = {
    val dupKeys = source.groupBy(on.map(col).toIndexedSeq: _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dupKeys == 0, "MERGE source has duplicate join keys")

    val target = Catalog.parquet(spark, path)
    // project the metadata column off the scan BEFORE the join — it is
    // a scan-level hidden column and does not survive resolution
    // through a join
    val probe = target.select(
      (on.map(col) :+ col("_metadata.file_path").as("__file")).toIndexedSeq: _*)
    val hitPaths = probe
      .join(source.select(on.map(col).toIndexedSeq: _*).distinct(), on, "left_semi")
      .select(col("__file"))
      .distinct()

    val targetCols = target.columns.toSeq
    val obsIns = Observation()

    rewriteScan(spark, path, hitPaths) match {
      case None =>
        // no key matches anywhere: the whole source inserts
        Txn.touch(spark, path)
        val inserts = source.select(targetCols.map(col).toIndexedSeq: _*)
          .observe(obsIns, count(lit(1)).as("n"))
        inserts.write.mode(SaveMode.Append)
          .option("maxRecordsPerFile", maxFileRows(spark))
          .parquet(path)
        Txn.wrote(spark, path)
        DmlStats(0, 0, obsIns.get("n").asInstanceOf[Long])
      case Some((hit, files)) =>
        // A source key absent from every hit file is absent from the
        // whole table (any file containing it would be a hit), so the
        // not-matched side anti-joins the hit files only. Both stat
        // counts are observed on the single swap-write job — no
        // separate count actions re-scanning source or hit files, so
        // the reported stats are exactly what was committed.
        val obsM = Observation()
        val inserts = source.join(hit, on, "left_anti")
          .select(targetCols.map(col).toIndexedSeq: _*)
          .observe(obsIns, count(lit(1)).as("n"))
        // left join: unmatched rows in a hit file pass through
        // unchanged; matched rows get `set` applied (source cols
        // resolve via `source`). The sides are aliased so string-built
        // set expressions (the DML front door's ON CONFLICT … DO
        // UPDATE SET v = excluded.v) can qualify either row; aliasing
        // preserves attribute ids, so df(col) references keep
        // resolving for programmatic callers.
        val joined = hit.as(targetAlias)
          .join(source.as(sourceAlias), on.map(c => hit(c) === source(c)).reduce(_ && _), "left")
        val matched = on.map(c => source(c).isNotNull).reduce(_ && _)
        val observed = joined.observe(obsM,
          sum(when(matched, 1L).otherwise(0L)).as("n"))
        val outCols = targetCols.map { c =>
          set.get(c) match {
            case Some(v) => when(matched, v).otherwise(hit(c)).as(c)
            case None    => hit(c).as(c)
          }
        }
        swap(spark, path, observed.select(outCols.toIndexedSeq: _*).unionByName(inserts), files)
        DmlStats(files.size,
          obsM.get("n").asInstanceOf[Long],
          obsIns.get("n").asInstanceOf[Long])
    }
  }

  /** FOREIGN KEY audit — the read-side half of the reference's FK
    * enforcement (physical_insert.cpp probes the referenced table's
    * ART index per row). On a columnar store the equivalent is one
    * key-only anti join: DISTINCT parent keys (key columns scanned,
    * nothing else) against the child's non-NULL key tuples. SQL FK
    * semantics: a child tuple with any NULL key column passes. Only
    * key columns ever shuffle; at 100 TB the parent side reduces to
    * its key cardinality before the join and AQE broadcasts it when
    * small.
    */
  def fkViolations(child: DataFrame, parent: DataFrame,
                   fk: Seq[(String, String)]): DataFrame = {
    val p = parent.select(fk.map { case (_, pc) => col(pc) }.toIndexedSeq: _*).distinct()
    val nonNull = fk.map { case (c, _) => child(c).isNotNull }.reduce(_ && _)
    val cond = fk.map { case (c, pc) => child(c) === p(pc) }.reduce(_ && _)
    child.filter(nonNull)
      .join(p, cond, "left_anti")
      .groupBy(fk.map { case (c, _) => col(c) }.toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"))
  }

  /** CHECK constraint audit. SQL semantics: a row violates only when
    * the predicate evaluates to FALSE — UNKNOWN (NULL) passes, same
    * as the reference's CheckConstraint
    * (src/planner/filter/constant_filter.cpp posture). Pure filter,
    * no shuffle.
    */
  def checkViolations(df: DataFrame, check: Column): DataFrame =
    df.filter(not(coalesce(check, lit(true))))

  /** INSERT with FK / CHECK enforcement layered on [[insert]]'s PK
    * probe — the write-side constraint surface. The batch is rejected
    * whole (nothing written) on any violation, matching the
    * reference's statement-level rollback.
    */
  def insertChecked(spark: SparkSession, path: String, rows: DataFrame,
                    pk: Seq[String] = Nil,
                    fkParent: Option[(DataFrame, Seq[(String, String)])] = None,
                    check: Option[Column] = None): DmlStats = {
    fkParent.foreach { case (parent, fk) =>
      val orphans = fkViolations(rows, parent, fk).limit(1).count()
      require(orphans == 0,
        s"INSERT violates FOREIGN KEY (${fk.map(_._1).mkString(", ")}): unmatched referenced key")
    }
    check.foreach { c =>
      val bad = checkViolations(rows, c).limit(1).count()
      require(bad == 0, s"INSERT violates CHECK ($c)")
    }
    insert(spark, path, rows, pk)
  }

  /** CREATE SEQUENCE analog: contiguous ids `startWith + i*incrementBy`
    * assigned in `key` order (the reference's sequence catalog entry +
    * nextval, src/catalog/catalog_entry/sequence_catalog_entry.cpp —
    * deterministic here where a parallel nextval scan is not).
    * NO global single-partition window: rows range-partition on the
    * key, each partition counts locally, the driver exchanges only
    * #partitions counts for the prefix offsets, and ids are assigned
    * partition-locally — the p04 pack-offsets machinery applied to
    * row ranks. Returns (key, seq_id); join back on the key for full
    * rows.
    */
  def assignSequence(df: DataFrame, key: String, startWith: Long = 1L,
                     incrementBy: Long = 1L, parts: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rdd = df.select(col(key).cast("long"))
      .as[Long]
      .repartitionByRange(parts, col(key))
      .sortWithinPartitions(col(key))
      .rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = rdd
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { case (i, it) =>
      var rank = bc.value(i)
      it.map { k => val r = rank; rank += 1; (k, startWith + r * incrementBy) }
    }
    spark.createDataFrame(out).toDF(key, "seq_id")
  }
}
