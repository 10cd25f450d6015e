package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-storage layout for the orderkey fact tables — the
  * amortize-the-shuffle-into-the-write answer to the lineitem⋈orders
  * exchange that dominates q3/q5/q10/q12 (README §perf profile). The
  * reference pays no such exchange because it is single-node; on a
  * cluster the equivalent is bucketing both fact tables by the join
  * key at WRITE time (Hive-style bucketing, `bucketBy` + `sortBy`),
  * after which every orderkey join reads co-located, pre-sorted
  * buckets and plans with ZERO fact exchanges (BucketingSpec proves
  * the exchange count; TpchBucketed proves the values through the
  * driver's oracle).
  *
  * At 100 TB this is a storage-layout decision: one bucketed write
  * (the cost of one shuffle) converts every subsequent orderkey
  * join/aggregation from a full-fact-table network shuffle into a
  * local merge — the same trade Hive/Iceberg/Delta users make for
  * their hottest join key.
  *
  * Build is lazy and memoized per (warehouse, sfDir): the first
  * caller in a JVM pays the write, everyone after reads the catalog
  * tables. A fresh JVM rebuilds (the default in-memory catalog does
  * not persist metadata), first clearing any stale on-disk LOCATION.
  */
object Bucketize {
  /** orderkey-bucketed copies; everything else reads plain parquet. */
  private val bucketCols = Map(
    "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey")

  /** Bucket count of the orderkey-bucketed copies. */
  private val Buckets = 32

  private def tableName(src: String) = s"graft_bkt_$src"

  private val built = scala.collection.mutable.Set.empty[String]

  /** Idempotently materialize the bucketed copies of `dir`'s fact
    * tables into the session warehouse.
    *
    * The DATA persists across JVMs; only the in-memory catalog entry
    * does not. A marker file records (source dir, bucket count), and
    * a fresh JVM that finds a matching marker re-registers the
    * existing files as an external bucketed table (CREATE TABLE …
    * CLUSTERED BY … LOCATION) instead of rewriting them — so a
    * machine pays the bucketed write ONCE, which is the whole
    * cost model of a write-time layout.
    */
  def ensure(s: SparkSession, dir: String): Unit = synchronized {
    val key = s.conf.get("spark.sql.warehouse.dir") + "|" + dir
    if (built(key)) return
    bucketCols.foreach { case (src, keyCol) =>
      val tbl = tableName(src)
      val loc = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
      val marker = new java.io.File(loc, "_GRAFT_SRC")
      // marker carries source mtime+size: the driver regenerates
      // testdata IN PLACE between rounds, so path identity alone would
      // silently reuse buckets built from a previous round's data
      val srcFile = new java.io.File(s"$dir/$src.parquet")
      val want = s"$dir|$Buckets|${srcFile.lastModified}|${srcFile.length}"
      val reusable = marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == want
      // drop only the (JVM-local) catalog entry; keep reusable data
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      if (reusable) {
        val schema = Catalog.table(s, dir, src).schema.toDDL
        s.sql(
          s"""CREATE TABLE $tbl ($schema) USING parquet
             |CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $Buckets BUCKETS
             |LOCATION '${loc.toURI}'""".stripMargin)
      } else {
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles.foreach(rm)
            f.delete()
          }
          rm(loc)
        }
        // repartition by the bucket key FIRST so each write task holds
        // exactly one bucket → ONE file per bucket. That single-file
        // layout is what lets FileSourceScanExec report the sortBy
        // order as outputOrdering, which in turn lets the merge join
        // skip its sort — without it the bucketed join still pays a
        // per-partition sort and the layout buys nothing.
        import org.apache.spark.sql.functions.col
        Catalog.table(s, dir, src)
          .repartition(Buckets, col(keyCol))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(Buckets, keyCol).sortBy(keyCol)
          .saveAsTable(tbl)
        java.nio.file.Files.write(marker.toPath, want.getBytes)
      }
    }
    built += key
  }

  /** Table provider for plan builders: bucketed catalog table for the
    * fact tables, plain parquet for everything else.
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    if (bucketCols.contains(name)) {
      ensure(s, dir)
      s.table(tableName(name))
    } else Catalog.table(s, dir, name)
}
