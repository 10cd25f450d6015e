package graft

import java.lang.management.ManagementFactory

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.Platform

/** Tuned SparkSession factory for the graft engine.
  *
  * Mirrors the posture a 1000-executor cluster deployment would use:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * explicit shuffle parallelism (local[32] → 32; on a real cluster set
  * spark.sql.shuffle.partitions ≈ 2–3 × total cores), UTC session time
  * zone for engine-portable timestamp semantics.
  *
  * Tungsten pages on a `local[…]` master are sized to the JVM heap:
  * `spark.buffer.pageSize` = max(1 MB, nextPow2(⌈maxMemory / 8192⌉)),
  * the smallest power of two ≥ 1 MB whose 8192-entry task page table
  * (TaskMemoryManager's 13-bit page number) spans the heap, so no task
  * runs out of page numbers before it runs out of heap: 1 MB up to an
  * 8 GB heap, 8 MB at 48 GB. Under G1 the long[] header comes off, as in
  * Spark's default page (a larger array is humongous). That default,
  * nextPow2(execution pool / cores / 16), is 32 MB on a 4-core 4 GB JVM,
  * and every BytesToBytesMap takes a whole page on its first insert:
  * d03's cap broadcast of the time (88 KB serialized) held 33,024 KB of
  * driver heap, now 1,280 KB; headline_mini's heap_live_peak_mb fell
  * 106.4 → 75.4 MB. Other masters keep Spark's default: the driver does
  * not know the executors' heap.
  *
  * Under G1, broadcast blocks are sized below the humongous threshold
  * on every master: `spark.broadcast.blockSize` = min(4 MB, half the
  * driver's G1 region less the byte[] header), in KiB. The driver
  * blockifies every broadcast, each stage's task binary included, into
  * one such chunk at least. Spark's 4 MB chunk is a humongous object on
  * any region up to 8 MB; on the benchmark's 4 GB heap (2 MB regions,
  * now 1023 KiB blocks) those allocations set off about one young GC
  * plus a concurrent cycle per headline pass. Other collectors keep
  * Spark's default.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // the reference's TIME type is first-class; Spark 4.1 ships it
      // behind a flag (dialect TIME maps to the native type when on)
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Broadcast threshold stays at Spark's 10 MB default: measured
      // at sf1, forcing 30–50 MB sides to broadcast LOST time — the
      // single-threaded driver hash build beats the distributed
      // sort-merge join only on a real cluster where the exchange
      // crosses a network, not on local[32]'s in-memory shuffle.
      // Scan split sizing is not fixed here: it derives from the input
      // size, per directory, in adaptScanParallelism.
      // Prefer shuffled HASH join over sort-merge when a side's
      // per-partition build fits memory: measured at sf10, q3 4.4→2.5 s,
      // q5 10→5.0 s, q10 3.6→2.7 s (the sort of 60 M probe-side rows is
      // pure overhead when the build side hashes). Sort-merge remains the
      // fallback for oversized builds — the AQE threshold bounds the local
      // hash map at 400 MB per partition, which also holds on a 100 TB
      // cluster (build size scales with 1/shuffle-partitions, and AQE
      // re-plans per-query from real map output sizes).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // Always read bucketed tables bucketed: the auto-disable rule
      // drops bucketed scans for plans without a distribution
      // requirement, which also silently discards BUCKET PRUNING —
      // the file-skip that makes CREATE INDEX point lookups open one
      // bucket (sources/Indexing, IndexingSpec)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // Report the bucketed tables' sortBy order from the scan:
      // Bucketize writes exactly ONE sorted file per bucket (the only
      // layout where this flag applies), which lets a merge join of
      // two orderkey-bucketed facts run with ZERO exchange and ZERO
      // sort (r12 q5 reshape — also removes the per-task hash builds
      // behind the r11 run-to-run variance). Spark turned this off by
      // default for multi-file buckets, which never occur here.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "400m")
      // InferFiltersFromGenerate puts `size(e) > 0 AND isnotnull(e)`
      // under every inner explode/posexplode/inline; pushdown then
      // substitutes the projected alias, so where `e` is a kernel
      // column (d03: posexplode over the SimHash blocks) the kernel
      // runs in that filter as well as in the projection, only to drop
      // rows the Generate drops anyway.
      // Excluding the rule: d03 sf30 interleaved 5.2→3.9 s min (r14
      // plan shape); q44/q67/p05/d08, which explode cheap split
      // arrays, measured neutral. The rule can only save work between
      // the filter and the Generate on rows whose array is empty or
      // NULL; the graft generators (LshBucketPairs, SimHashBucketPairs)
      // are not among the generators it touches.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Never use the bypass-merge shuffle writer (r14): it creates
      // one FILE per reduce partition per map task — a bucketed-fact
      // join stage (32 map tasks × 32 partitions) creates and then
      // mmap/transferTo-merges 1024 tiny files, and the mmap/munmap
      // storm serializes all 32 cores in the kernel (thread dumps:
      // map0/unmap0/write0; q10_bucketed join stage sumRun 23 s vs
      // sumCpu 2.6 s). The serialized (Unsafe) writer buffers in
      // memory, writes ONE file per map task, and is what every
      // >200-partition production shuffle uses anyway — this just
      // removes the small-partition-count special case. A/B sf0.1:
      // q10_bucketed 1.79→1.23 s, q5_bucketed 1.60→1.31 s; dedup
      // family unchanged within noise.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold
      // stays at Spark's default (128): raising it session-wide would
      // disable the sort-based spill valve for EVERY
      // TypedImperativeAggregate — a collect-style aggregate with many
      // keys and large per-key buffers then OOMs instead of spilling
      // (r13 advice). The one query whose buffers are provably bounded
      // and whose key count needs the hash path (st02's SessionCount,
      // primitive arrays) raises it on its own forked session —
      // queries/StreamingQ.scala.
      .config("spark.sql.session.timeZone", "UTC")
      // Testdata parquet stores naive timestamp[us]; read it as the
      // session-zone (UTC) instant type, not TIMESTAMP_NTZ, so the
      // epoch-arithmetic kernels (unix_micros, casts to BIGINT) and the
      // DuckDB oracle agree on wall-clock values.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(heapPages(master))
      .config(broadcastBlocks)

  private def g1: Boolean = ManagementFactory.getGarbageCollectorMXBeans.stream
    .anyMatch(_.getName.startsWith("G1"))

  // the page rule above
  private def heapPages(master: String): Map[String, Any] =
    if (master != "local" && !master.startsWith("local[")) Map.empty
    else {
      val header = if (g1) Platform.LONG_ARRAY_OFFSET else 0
      val minPage = (Runtime.getRuntime.maxMemory + 8191) / 8192 + header
      Map("spark.buffer.pageSize" -> (math.max(1L << 20, java.lang.Long.highestOneBit(minPage - 1) << 1) - header))
    }

  // the broadcast block rule above
  private def broadcastBlocks: Map[String, Any] =
    if (!g1) Map.empty
    else {
      val region = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
        .getVMOption("G1HeapRegionSize").getValue.toLong
      Map("spark.broadcast.blockSize" -> s"${math.min(4096L, (region / 2 - Platform.BYTE_ARRAY_OFFSET) / 1024)}k")
    }

  /** Scale-adaptive scan split sizing (r14, guide §2/§6): derive
    * spark.sql.files.maxPartitionBytes from the INPUT size instead of
    * a constant tuned for one scale. A fixed 16m split packs a whole
    * sf0.1 table into one task (single-threaded scans on a 32-core
    * box: tpch_q1 scan+partial-agg was ONE 2-second task) yet is
    * already too fine at sf10+ (70 splits of a 1.1 GB fact). Target
    * ~4 splits per core over the directory's total bytes, clamped to
    * [2m, 128m]: sf0.1 → 2m (tpch_q1 1.35→0.84 s, p12 1.78→0.94 s,
    * d04 2.86→2.31 s measured), sf10 → ~17m (the previously tuned
    * value — receipts stay comparable), sf100+ → 128m (Spark's
    * default: fewer, bigger tasks, §2.2). Runtime SQL conf, so the
    * perf entry points (Bench, OptProf, the benchmark harness) set it
    * per input dir; sessions that skip it (Verify, the specs) keep
    * Spark's defaults — correctness runs don't depend on split size.
    */
  def adaptScanParallelism(s: SparkSession, dir: String): Unit = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles match {
        case null => 0L
        case fs   => fs.map(sizeOf).sum
      } else f.length
    val total = sizeOf(new java.io.File(dir))
    val cores = s.sparkContext.defaultParallelism.toLong
    val split = math.max(2L << 20, math.min(128L << 20, total / (4L * cores)))
    s.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    s.conf.set("spark.sql.files.openCostInBytes",
      math.max(256L << 10, split / 8).toString)
    // AQE's coalesce floor (minPartitionSize, default 1m) must scale
    // with the input too: post-shuffle partition counts are decided by
    // BYTES, but the dedup/text operators' per-byte CPU is ~100× a
    // relational projection's — at sf0.1 the whole corpus compresses
    // under 1 MB, so AQE coalesced the post-exchange shingle/minhash
    // stages to ONE task (r14 stage profile: d04's kernel stage = 1 task,
    // 1.2 s CPU, 31 cores idle). split/8 keeps the floor ≥ 256k
    // (the measured sweet spot — 64k won d02/d04 but regressed
    // d07/p12), and the 4m CAP (r15, advice) stops the derived floor
    // from growing past 4× Spark's default at big splits: an uncapped
    // split/8 is 16m at the 128m production split, and any mid-size
    // shuffle totalling under 16m × cores would then lose parallelism
    // vs stock Spark — the same CPU-misprice pathology this floor
    // exists to fix, in reverse. Scale-adaptive, not a local[32]
    // constant (guide §2.2: partition-count targets must derive from
    // input, and byte targets misprice CPU-heavy stages).
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      math.min(4L << 20, math.max(256L << 10, split / 8)).toString)
  }
}
