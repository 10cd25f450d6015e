package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal Delta Lake transaction log — the Spark-native analog of the
  * reference's delta extension (reference: extension/delta/src/
  * delta_functions.cpp `delta_scan`), built directly on the PUBLIC
  * Delta protocol: a table is a directory of parquet files plus
  * `_delta_log/<20-digit version>.json` commits, each a newline list
  * of actions (`protocol` / `metaData` / `add` / `remove`). The
  * current snapshot is the log replay: union of adds minus removes,
  * in version order.
  *
  * What this buys over a bare parquet directory, at any scale:
  * - **Atomic visibility**: readers only see files named by a
  *   committed version — a crashed writer leaves invisible orphans,
  *   never a torn table (the swap-in-place DML layer cannot say that).
  * - **Overwrite without delete**: old files stay on disk; the commit
  *   just stops referencing them. That makes overwrite O(#files)
  *   metadata work, not data work.
  * - **Time travel**: `read(.., versionAsOf = Some(n))` replays the
  *   prefix of the log — audit/repro for free.
  *
  * Single-writer by design (no optimistic-concurrency loop); the
  * schema rides in `metaData.schemaString`, which the Delta protocol
  * defines as Spark's own schema JSON — zero translation here.
  * Partitioned tables are out of scope and fail fast on read.
  */
object DeltaLake {
  private val mapper = new ObjectMapper

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath(table: String) = new Path(table, "_delta_log")

  private def versionFile(table: String, v: Long) =
    new Path(logPath(table), f"$v%020d.json")

  /** Highest committed version, or -1 for a fresh table. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val dir = logPath(table)
    val hfs = fs(spark, dir)
    if (!hfs.exists(dir)) return -1L
    hfs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .foldLeft(-1L)(math.max)
  }

  /** Replay the log through `versionAsOf` (default: all). Returns
    * (live file relative paths in first-add order, schema).
    */
  private def replay(spark: SparkSession, table: String,
      versionAsOf: Option[Long]): (Seq[String], StructType) = {
    val last = latestVersion(spark, table)
    require(last >= 0, s"not a delta table (no _delta_log): $table")
    val upTo = versionAsOf.getOrElse(last)
    require(upTo <= last, s"versionAsOf $upTo > latest $last")
    val hfs = fs(spark, logPath(table))
    val live = mutable.LinkedHashMap.empty[String, Boolean]
    var schema: StructType = null
    var v = 0L
    while (v <= upTo) {
      val in = hfs.open(versionFile(table, v))
      val content = try {
        new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      } finally in.close()
      content.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("metaData")) {
          val md = node.get("metaData")
          val parts = md.get("partitionColumns")
          require(parts == null || parts.size() == 0,
            s"partitioned delta tables unsupported: $table")
          schema = DataType.fromJson(md.get("schemaString").asText).asInstanceOf[StructType]
        }
        if (node.has("add")) live += node.get("add").get("path").asText -> true
        if (node.has("remove")) live -= node.get("remove").get("path").asText
      }
      v += 1
    }
    require(schema != null, s"no metaData action in log: $table")
    (live.keys.toSeq, schema)
  }

  /** Snapshot read — only files the log names, never strays. */
  def read(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val (files, schema) = replay(spark, table, versionAsOf)
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(f => new Path(table, f).toString): _*)
  }

  /** Data-skipping read: prune files whose logged [min, max] interval
    * for `statsCol` cannot intersect [lo, hi] — the Delta `stats`
    * field put to work. Planning-time pruning over the LOG, before
    * any parquet footer is opened: at 100 TB, a selective range
    * predicate touches the handful of files that can match and the
    * scan never even lists the rest. Files committed without stats
    * (pre-stats history, foreign writers) are conservatively kept.
    * The residual predicate still applies row-level — this is a
    * superset guarantee, proven equal to the unpruned read in
    * DeltaLakeSpec.
    */
  def readRange(spark: SparkSession, table: String, statsCol: String,
      lo: Double, hi: Double): DataFrame = {
    val last = latestVersion(spark, table)
    require(last >= 0, s"not a delta table: $table")
    val hfs = fs(spark, logPath(table))
    val live = mutable.LinkedHashMap.empty[String, JsonNode]
    var schema: StructType = null
    var v = 0L
    while (v <= last) {
      val in = hfs.open(versionFile(table, v))
      val content = try {
        new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      } finally in.close()
      content.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("metaData"))
          schema = DataType.fromJson(node.get("metaData").get("schemaString").asText)
            .asInstanceOf[StructType]
        if (node.has("add")) {
          val add = node.get("add")
          live += add.get("path").asText -> add.get("stats")
        }
        if (node.has("remove")) live -= node.get("remove").get("path").asText
      }
      v += 1
    }
    val keep = live.iterator.filter { case (_, stats) =>
      if (stats == null || stats.isNull) true // no stats: cannot prune
      else {
        val mn = stats.get("minValues"); val mx = stats.get("maxValues")
        val hasCol = mn != null && mn.has(statsCol) && mx != null && mx.has(statsCol)
        !hasCol || (mn.get(statsCol).asDouble <= hi && mx.get(statsCol).asDouble >= lo)
      }
    }.map(_._1).toSeq
    import org.apache.spark.sql.functions.col
    val residual = col(statsCol) >= lo && col(statsCol) <= hi
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .where(residual)
    else spark.read.schema(schema)
      .parquet(keep.map(f => new Path(table, f).toString): _*)
      .where(residual)
  }

  private def writeActions(spark: SparkSession, table: String, v: Long,
      actions: Seq[ObjectNode]): Unit = {
    val target = versionFile(table, v)
    val hfs = fs(spark, target)
    hfs.mkdirs(logPath(table))
    // createFile w/o overwrite: committing an existing version fails
    // loudly instead of clobbering history (single-writer guard)
    val out = hfs.create(target, false)
    try out.write(actions.map(mapper.writeValueAsString).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def metaActions(df: DataFrame, table: String): Seq[ObjectNode] = {
    val protocol = mapper.createObjectNode
    protocol.putObject("protocol").put("minReaderVersion", 1).put("minWriterVersion", 2)
    val meta = mapper.createObjectNode
    val md = meta.putObject("metaData")
    md.put("id", java.util.UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString)
    md.putObject("format").put("provider", "parquet").putObject("options")
    md.put("schemaString", df.schema.json)
    md.putArray("partitionColumns")
    md.put("createdTime", 0L)
    md.putObject("configuration")
    Seq(protocol, meta)
  }

  /** Write df's rows as new parquet files inside the table dir and
    * return their (relative path, size) — the files exist but are
    * INVISIBLE until a commit names them.
    */
  private def stageFiles(spark: SparkSession, df: DataFrame,
      table: String): Seq[(String, Long)] = {
    val root = new Path(table)
    val hfs = fs(spark, root)
    def dataFiles(): Set[String] = {
      if (!hfs.exists(root)) return Set.empty
      hfs.listStatus(root).iterator
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
    }
    val before = dataFiles()
    df.write.mode("append").parquet(table)
    val added = (dataFiles() -- before).toSeq.sorted
    added.map(n => n -> hfs.getFileStatus(new Path(root, n)).getLen)
  }

  private def addAction(path: String, size: Long): ObjectNode =
    addActionWithStats(path, size, None)

  private def addActionWithStats(path: String, size: Long,
      stats: Option[ObjectNode]): ObjectNode = {
    val n = mapper.createObjectNode
    val add = n.putObject("add")
    add.put("path", path).put("size", size)
      .put("modificationTime", 0L).put("dataChange", true)
    add.putObject("partitionValues")
    stats.foreach(s => add.set[ObjectNode]("stats", s))
    n
  }

  /** Per-file min/max/count for numeric `statsCols`, one grouped scan
    * over just the staged files (stats collection IS a scan; it reads
    * only this commit's data, not the table).
    */
  private def collectStats(spark: SparkSession, table: String,
      staged: Seq[(String, Long)],
      statsCols: Seq[String]): Map[String, ObjectNode] = {
    if (statsCols.isEmpty || staged.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    val paths = staged.map { case (f, _) => new Path(table, f).toString }
    val aggs = count(lit(1)).as("__n") +:
      statsCols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val rows = Catalog.parquet(spark, paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val fileName = new Path(java.net.URI.create(r.getString(0)).getPath).getName
      val stats = mapper.createObjectNode
      stats.put("numRecords", r.getLong(1))
      val mn = stats.putObject("minValues"); val mx = stats.putObject("maxValues")
      statsCols.foreach { c =>
        val vMin = r.getAs[Any](s"__min_$c"); val vMax = r.getAs[Any](s"__max_$c")
        (vMin, vMax) match {
          case (a: Number, b: Number) =>
            mn.put(c, a.doubleValue); mx.put(c, b.doubleValue)
          case _ => // non-numeric or null: no stats for this column
        }
      }
      fileName -> stats
    }.toMap
  }

  private def removeAction(path: String): ObjectNode = {
    val n = mapper.createObjectNode
    n.putObject("remove").put("path", path)
      .put("deletionTimestamp", 0L).put("dataChange", true)
    n
  }

  /** Append commit: stage files, then one atomic log entry.
    * `statsCols` opts numeric columns into per-file min/max stats for
    * [[readRange]] data skipping.
    */
  def append(spark: SparkSession, df: DataFrame, table: String,
      statsCols: Seq[String] = Nil): Long = {
    val v = latestVersion(spark, table) + 1
    val staged = stageFiles(spark, df, table)
    val stats = collectStats(spark, table, staged, statsCols)
    val head = if (v == 0) metaActions(df, table) else Nil
    writeActions(spark, table, v,
      head ++ staged.map { case (f, sz) => addActionWithStats(f, sz, stats.get(f)) })
    v
  }

  /** Overwrite commit: remove every live file, add the staged ones —
    * pure metadata; old files stay on disk for time travel.
    */
  def overwrite(spark: SparkSession, df: DataFrame, table: String): Long = {
    val prior = latestVersion(spark, table)
    val removes =
      if (prior < 0) Nil
      else replay(spark, table, None)._1.map(removeAction)
    val v = prior + 1
    val staged = stageFiles(spark, df, table)
    val head = if (v == 0) metaActions(df, table) else Nil
    writeActions(spark, table, v, head ++ removes ++ staged.map((addAction _).tupled))
    v
  }

  /** Versioned DELETE — Delta's copy-on-write shape: find the files
    * that CONTAIN hits (everything else is untouched metadata),
    * rewrite only those files' survivors, commit remove(hit) +
    * add(rewrites) atomically. The rewrite cost is proportional to
    * the hit file count, never the table; history stays queryable.
    */
  def delete(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column): Long = {
    val (files, schema) = replay(spark, table, None)
    val abs = files.map(f => new Path(table, f).toString)
    if (abs.isEmpty) return latestVersion(spark, table) // nothing to do
    import org.apache.spark.sql.functions.{col, input_file_name}
    val hitFiles = spark.read.schema(schema).parquet(abs: _*)
      .where(cond).select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    val v0 = latestVersion(spark, table)
    if (hitFiles.isEmpty) return v0
    // map absolute hit paths back to their log-relative names
    val rel = files.zip(abs).filter { case (_, a) => hitFiles.exists(h => pathEq(h, a)) }
    val survivors = spark.read.schema(schema)
      .parquet(rel.map(_._2): _*)
      .where(!cond)
    val staged = stageFiles(spark, survivors, table)
    writeActions(spark, table, v0 + 1,
      rel.map(r => removeAction(r._1)) ++ staged.map((addAction _).tupled))
    v0 + 1
  }

  /** OPTIMIZE analog: rewrite the current snapshot's many small files
    * into `targetFiles` larger ones and commit remove(all)+add(new) —
    * values unchanged (a reader at this version or the last sees the
    * same rows), but scan planning drops from O(small files) to
    * O(target). History before the compaction stays time-travelable.
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 1): Long = {
    val (files, schema) = replay(spark, table, None)
    val v0 = latestVersion(spark, table)
    if (files.size <= targetFiles) return v0
    val snapshot = spark.read.schema(schema)
      .parquet(files.map(f => new Path(table, f).toString): _*)
      .repartition(targetFiles)
    val staged = stageFiles(spark, snapshot, table)
    writeActions(spark, table, v0 + 1,
      files.map(removeAction) ++ staged.map((addAction _).tupled))
    v0 + 1
  }

  /** Highest committed `txn` version for an application id, or -1.
    * The txn action is the Delta protocol's idempotence handle: a
    * writer that tags each commit with (appId, monotonically
    * increasing version) can be re-run safely — re-delivered work is
    * recognized and skipped.
    */
  def lastTxnVersion(spark: SparkSession, table: String, appId: String): Long = {
    val last = latestVersion(spark, table)
    if (last < 0) return -1L
    val hfs = fs(spark, logPath(table))
    var best = -1L
    var v = 0L
    while (v <= last) {
      val in = hfs.open(versionFile(table, v))
      val content = try {
        new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      } finally in.close()
      content.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("txn") && n.get("txn").get("appId").asText == appId)
          best = math.max(best, n.get("txn").get("version").asLong)
      }
      v += 1
    }
    best
  }

  /** Append exactly once per (appId, txnVersion): re-delivery of an
    * already-committed version is a silent no-op. Returns the delta
    * version committed, or -1 when skipped.
    */
  def appendIdempotent(spark: SparkSession, df: DataFrame, table: String,
      appId: String, txnVersion: Long): Long = {
    if (txnVersion <= lastTxnVersion(spark, table, appId)) return -1L
    val v = latestVersion(spark, table) + 1
    val staged = stageFiles(spark, df, table)
    val head = if (v == 0) metaActions(df, table) else Nil
    val txn = mapper.createObjectNode
    txn.putObject("txn").put("appId", appId).put("version", txnVersion)
    writeActions(spark, table, v, head ++ Seq(txn) ++ staged.map((addAction _).tupled))
    v
  }

  /** Streaming sink: each micro-batch lands as one atomic, idempotent
    * delta commit (foreachBatch + txn(appId, batchId)). A restart
    * from the same checkpoint re-delivers at most the last batch,
    * which the txn ledger recognizes and drops — exactly-once into a
    * transactional table, downstream readers never see a torn batch.
    */
  def streamTo(df: DataFrame, table: String, checkpointDir: String,
      appId: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = df.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendIdempotent(batch.sparkSession, batch, table, appId, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    q
  }

  /** VACUUM: physically delete data files no snapshot in the retained
    * version window references. Reclaims the space overwrite/delete/
    * compact deliberately left behind; time travel older than the
    * window dies with it (the classic Delta trade, made explicit by
    * `retainLast`).
    */
  def vacuum(spark: SparkSession, table: String, retainLast: Int = 1): Long = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val last = latestVersion(spark, table)
    require(last >= 0, s"not a delta table: $table")
    val keep = mutable.Set.empty[String]
    var v = math.max(0L, last - retainLast + 1)
    while (v <= last) {
      keep ++= replay(spark, table, Some(v))._1
      v += 1
    }
    val root = new Path(table)
    val hfs = fs(spark, root)
    var removed = 0L
    hfs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !keep.contains(n)) {
        hfs.delete(st.getPath, false); removed += 1
      }
    }
    removed
  }

  /** input_file_name() returns URI-style paths; compare decoded tails. */
  private def pathEq(a: String, b: String): Boolean =
    new Path(java.net.URI.create(a).getPath).toString ==
      new Path(new Path(b).toUri.getPath).toString

  /** Checkpoint: collapse the replay prefix into one parquet of add
    * actions plus a `_last_checkpoint` pointer, so readers replay
    * O(commits-since-checkpoint) JSON instead of the whole history —
    * the piece that keeps a long-lived 100 TB table's planning cost
    * flat. (Classic Delta checkpoint shape, minus sidecar files.)
    */
  def checkpoint(spark: SparkSession, table: String): Long = {
    val v = latestVersion(spark, table)
    val (files, schema) = replay(spark, table, None)
    val hfs = fs(spark, logPath(table))
    val ckDir = new Path(logPath(table), f"$v%020d.checkpoint.parquet")
    import spark.implicits._
    spark.createDataset(files).toDF("path")
      .repartition(1)
      .write.mode("overwrite").parquet(ckDir.toString)
    val meta = mapper.createObjectNode
    meta.put("version", v)
    meta.put("schemaString", schema.json)
    val out = hfs.create(new Path(logPath(table), "_last_checkpoint"), true)
    try out.write(mapper.writeValueAsString(meta).getBytes("UTF-8"))
    finally out.close()
    v
  }

  /** Snapshot read that starts from the newest checkpoint at or below
    * the requested version and replays only the JSON tail.
    */
  def readFromCheckpoint(spark: SparkSession, table: String): DataFrame = {
    val hfs = fs(spark, logPath(table))
    val ckMeta = new Path(logPath(table), "_last_checkpoint")
    if (!hfs.exists(ckMeta)) return read(spark, table)
    val in = hfs.open(ckMeta)
    val node = try mapper.readTree(in) finally in.close()
    val ckVersion = node.get("version").asLong
    val schema = DataType.fromJson(node.get("schemaString").asText).asInstanceOf[StructType]
    val ckDir = new Path(logPath(table), f"$ckVersion%020d.checkpoint.parquet")
    val base = Catalog.parquet(spark, ckDir.toString).collect().map(_.getString(0))
    val live = mutable.LinkedHashMap.empty[String, Boolean]
    base.foreach(p => live += p -> true)
    val last = latestVersion(spark, table)
    var v = ckVersion + 1
    while (v <= last) {
      val cin = hfs.open(versionFile(table, v))
      val content = try {
        new String(org.apache.commons.io.IOUtils.toByteArray(cin), "UTF-8")
      } finally cin.close()
      content.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("add")) live += n.get("add").get("path").asText -> true
        if (n.has("remove")) live -= n.get("remove").get("path").asText
      }
      v += 1
    }
    val filesNow = live.keys.toSeq
    if (filesNow.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(filesNow.map(f => new Path(table, f).toString): _*)
  }
}
