package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Mirrors the posture a 1000-executor cluster deployment would use:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * explicit shuffle parallelism (local[32] → 32; on a real cluster set
  * spark.sql.shuffle.partitions ≈ 2–3 × total cores), UTC session time
  * zone for engine-portable timestamp semantics.
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
      // Split scans finer than the 128 MB default: at bench scale the
      // tables are a few MB per file and the default packs a whole
      // table into 1–2 partitions — single-threaded scans on a 32-core
      // box. 16 MB keeps every core busy; a 100 TB deployment would
      // override back to 128m+ (fewer, bigger tasks).
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
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
      // InferFiltersFromGenerate re-evaluates the generator's INPUT
      // expression in an inferred `size(e)>0 AND isnotnull(e)` filter
      // that pushdown then moves to the scan — for explode over a
      // kernel-computed array (d03: simhashblocks over the tokenizer)
      // that is a full extra kernel pass over every RAW row, purely to
      // drop rows the Generate drops anyway (r14 plans carried it on
      // all four scan copies). Excluding the rule: d03 sf30
      // interleaved 5.2→3.9 s min; q44/q67/p05/d08 (cheap split-array
      // generators, where the filter can at most save the rows-with-
      // empty-arrays path) all measured neutral. Scale-safe: the rule
      // only ever trades an extra input-expression evaluation per raw
      // row against early-dropping rows that produce no generate
      // output — and every generate in this engine feeds off the same
      // relation it filters, so nothing upstream is ever saved.
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

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The documented PERF entry point (r15, verdict): a tuned session
    * with the scale-adaptive scan/coalesce sizing applied for `dir` —
    * what Bench and the profilers use. Sessions built via
    * [[get]]/[[builder]] keep the builder's static split sizing (16m
    * maxPartitionBytes, 1m openCostInBytes) whatever the input size
    * (correctness does not depend on it; Verify deliberately stays
    * un-tuned).
    */
  def getTuned(dir: String): SparkSession = {
    val s = get()
    adaptScanParallelism(s, dir)
    s
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
    * perf entry points (Bench/profilers) set it per input dir;
    * Verify keeps the session default — correctness runs don't
    * depend on split size.
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
    // stages to ONE task (ScanProf: d04's kernel stage = 1 task,
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
