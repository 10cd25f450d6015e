package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.queries.QDef

/** One run of the benchmark in one JVM. It builds one session on the
  * run root (warehouse, spark.local.dir and java.io.tmpdir under
  * `--work`) and warms up with `--warmups` passes over the entries; the
  * set-up time runs from process start to the end of warm-up, so it
  * holds JVM start, class initialization, session build, first-run
  * codegen and the JIT's warm-up. It then runs `--passes` measured
  * passes, dumps every entry's output once for the checker, and
  * writes a JSON report. Every timing is taken here, around the
  * engine's public entry points: `QDef.fn` (build) and a noop-sink
  * write (execute). Warm-up passes collect garbage after each entry and
  * sample the heap that stays live; measured passes do not, so their
  * timings hold the engine's own GC. With `--trace 1` passes alternate
  * between untraced and traced; traced passes attach a [[Tracer]] for
  * spans and layer metrics.
  *
  * Arguments (all `--key value`): workload, seed (fixes each pass's
  * entry order), passes, trace, warmups, data (input tables), work (run
  * root), out (report path).
  */
object Harness {

  final class Exec(val name: String, val pass: Int, val traced: Boolean) {
    var buildS, executeS, latencyS, cpuS, jitS = 0.0
    var heapMb = Double.NaN
    var ok = true
    var error = ""
    val layers = mutable.LinkedHashMap.empty[String, Double]
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads(opt("workload"))
    val data = opt("data")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    Seq("warehouse", "local", "tmp").foreach(d => Files.createDirectories(Paths.get(work, d)))
    System.setProperty("java.io.tmpdir", s"$work/tmp")
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    GraftSession.adaptScanParallelism(spark, data)
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, data)
    val warm = (1 to opt("warmups").toInt).map { _ =>
      val es = workload.entries.map(d => h.run(d, -1, null))
      (es, (System.currentTimeMillis() - startMs) / 1e3)
    }
    val setup = Map("setup_s" -> warm.last._2,
      "warmup_end_s" -> warm.map(_._2),
      "warmup_jit_s" -> warm.map(_._1.map(_.jitS).sum),
      "warmup_s" -> warm.map(_._1.map(e => e.name -> e.latencyS).toMap),
      "heap_live_peak_mb" -> warm.flatMap(_._1.map(_.heapMb)).max,
      "failures" -> warm.flatMap(_._1.filterNot(_.ok).map(e => s"${e.name}: ${e.error}")).distinct)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "setup" -> setup,
      "env" -> Map(
        "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString))

    val passCount = opt("passes").toInt
    val trace = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    (0 until passCount).foreach { pass =>
      // untraced and traced passes in ABBA order, so JIT warm-up drift
      // does not bias the tracing-overhead estimate
      val traced = trace && pass % 4 % 3 != 0
      val order = rng.shuffle(workload.entries)
      val span = if (traced) h.tracer.open("pass", s"pass $pass", h.runSpan) else null
      if (traced) h.attach() else h.detach()
      val es = order.map(d => h.run(d, pass, span))
      if (span != null) span.end = Clock.nowMs
      execs ++= es
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> es.map(_.latencyS).sum,
        "cpu_s" -> es.map(_.cpuS).sum, "jit_s" -> es.map(_.jitS).sum,
        "order" -> order.map(_.name))
    }
    h.detach()
    h.runSpan.end = Clock.nowMs
    report ++= Seq(
      "seed" -> opt("seed").toLong, "passes_run" -> passCount, "trace" -> trace,
      "passes" -> passes.toList,
      "execs" -> execs.map(e => Map(
        "name" -> e.name, "pass" -> e.pass, "traced" -> e.traced, "ok" -> e.ok, "error" -> e.error,
        "latency_s" -> e.latencyS, "build_s" -> e.buildS, "execute_s" -> e.executeS, "cpu_s" -> e.cpuS,
        "jit_s" -> e.jitS, "layers" -> e.layers.toMap)).toList)
    if (trace) report += "spans" -> h.spanReport()
    report += "check_failures" -> h.dumpOutputs(workload.entries, s"$work/check")
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json(report.toMap))
  }
}

final class Harness(spark: SparkSession, data: String) {
  import Harness.Exec

  val tracer = new Tracer
  val runSpan: Span = tracer.open("run", "run", null)
  private val sc = spark.sparkContext
  private var attached = false
  private val heap = java.lang.management.ManagementFactory.getMemoryMXBean
  // CPU time of the whole JVM: time the host gives to other guests
  // (steal) is not in it, so it stays steadier than wall time on a
  // shared machine
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  // The JIT is still compiling the engine a dozen passes after start-up,
  // at one to four seconds of compiler-thread time per pass, and how
  // much depends on how far the warm-up got; an entry's CPU is counted
  // without the compile time that fell into it.
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(tracer); spark.listenerManager.register(tracer); attached = true
  }

  def detach(): Unit = if (attached) {
    BusDrain(sc); sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer); attached = false
  }

  /** Builds and executes one entry. Warm-up runs pass -1 and then
    * samples the heap that stays live after a full GC. (Sampling in the
    * last warm-up pass only, after passes without collections, read up to
    * 1.7x more from run to run.)
    */
  def run(d: QDef, pass: Int, passSpan: Span): Exec = {
    val e = new Exec(d.name, pass, attached)
    val entry = tracer.open("entry", d.name, passSpan, e.traced)
    val build = tracer.open("build", "build", entry, e.traced)
    var execute: Span = null
    var df: DataFrame = null
    val cpu0 = os.getProcessCpuTime
    val jit0 = jit.getTotalCompilationTime
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      sc.setJobGroup(s"pb${build.id}", d.name, interruptOnCancel = false)
      df = d.fn(spark, data)
      t1 = System.nanoTime()
      build.end = Clock.nowMs
      execute = tracer.open("execute", "execute", entry, e.traced)
      sc.setJobGroup(s"pb${execute.id}", d.name, interruptOnCancel = false)
      df.write.format("noop").mode("overwrite").save()
    } catch {
      case NonFatal(ex) => e.ok = false; e.error = ex.toString.take(300)
    } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    e.jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    e.cpuS = (os.getProcessCpuTime - cpu0) / 1e9 - e.jitS
    entry.end = Clock.nowMs
    if (build.end.isNaN) { build.end = entry.end; t1 = t2 }
    if (execute != null) execute.end = entry.end
    e.buildS = (t1 - t0) / 1e9
    e.executeS = (t2 - t1) / 1e9
    e.latencyS = (t2 - t0) / 1e9
    if (e.traced) layers(e, entry, build, execute, df)
    if (pass < 0) {
      System.gc()
      e.heapMb = heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    e
  }

  /** Per-layer metrics of one traced entry, from the stages and query
    * executions attributed to its build and execute spans.
    */
  private def layers(e: Exec, entry: Span, build: Span, execute: Span, df: DataFrame): Unit = {
    BusDrain(sc)
    // the entry's own Dataset is analyzed eagerly during build, so its
    // analysis time is in its tracker rather than in an executed query's
    val built = Option(df).map(d => QeRec(d.queryExecution.tracker.phases.collect {
      case ("analysis", p) => "analysis" -> p.durationMs.toDouble }, Map.empty, 0L))
    val qes = tracer.takeQes() ++ built
    val groups = Seq(build) ++ Option(execute)
    val stages = groups.flatMap(s => tracer.stagesOf(s"pb${s.id}"))
    val execStages = Option(execute).toSeq.flatMap(s => tracer.stagesOf(s"pb${s.id}"))
    val execMs = Option(execute).map(_.ms).getOrElse(0.0)
    val intervals = execStages.map(s => (s.start, s.end))
    val covered = Option(execute).map(x => Tracer.covered(intervals, x.start, x.end)).getOrElse(0.0)
    // stage time outside its own execute span: Spark's stage clock and the
    // harness clock disagree, or a stage was attributed to the wrong span
    val outside = Tracer.covered(intervals, Double.MinValue, Double.MaxValue) - covered
    def sum(f: StageRec => Double): Double = stages.map(f).sum
    def phase(p: String): Double = qes.map(_.phases.getOrElse(p, 0.0)).sum
    val taskCpuMs = sum(_.cpuNs / 1e6)
    val catalyst = phase("analysis") + phase("optimization") + phase("planning")
    e.layers ++= Seq(
      "queries.build_ms" -> build.ms,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "scheduler.jobs" -> groups.map(s => tracer.jobsOf(s"pb${s.id}")).sum.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> sum(_.tasks.toDouble),
      "scheduler.idle_ms" -> (execMs - covered),
      "sources.scan_bytes" -> qes.map(_.scanBytes.toDouble).sum,
      "sources.scan_rows" -> sum(_.inputRows.toDouble),
      "sources.scan_stage_ms" -> stages.filter(_.inputRows > 0).map(s => s.end - s.start).sum,
      "sources.write_bytes" -> sum(_.outputBytes.toDouble),
      "sources.write_rows" -> sum(_.outputRows.toDouble),
      "exchange.write_bytes" -> sum(_.shWriteBytes.toDouble),
      "exchange.read_bytes" -> sum(_.shReadBytes.toDouble),
      "exchange.records" -> sum(_.shWriteRecords.toDouble),
      "exchange.write_ms" -> sum(_.shWriteNs / 1e6),
      "exchange.fetch_wait_ms" -> sum(_.fetchWaitMs.toDouble),
      "exchange.spill_bytes" -> sum(_.spillBytes.toDouble),
      "compute.task_run_ms" -> sum(_.runMs.toDouble),
      "compute.task_cpu_ms" -> taskCpuMs,
      "compute.gc_ms" -> sum(_.gcMs.toDouble),
      // compute.cpu_util's parts: the execute span's task CPU and wall
      "compute.execute_cpu_ms" -> execStages.map(_.cpuNs / 1e6).sum,
      "compute.execute_ms" -> execMs)
    Seq("exchanges", "reused_exchanges", "broadcasts", "joins_shj", "joins_smj", "joins_bhj").foreach { k =>
      e.layers += s"plans.$k" -> qes.map(_.plan.getOrElse(k, 0)).sum.toDouble
    }
    // reconciliation: entry wall = build + execute (+ harness gap);
    // Catalyst phases run inside build or execute; execute wall = time
    // covered by its stages + scheduler.idle_ms, with no stage time
    // outside the span
    e.layers ++= Seq(
      "recon.entry_ms" -> entry.ms,
      "recon.entry_unattributed_ms" -> (entry.ms - build.ms - execMs),
      "recon.catalyst_ms" -> catalyst,
      "recon.catalyst_excess_ms" -> math.max(0.0, catalyst - build.ms - execMs),
      "recon.stage_covered_ms" -> covered,
      "recon.execute_unattributed_ms" -> outside)
  }

  /** Every span with its self time: duration minus the union of its
    * children's intervals.
    */
  def spanReport(): Seq[Map[String, Any]] = {
    val spans = tracer.allSpans.filter(s => !s.end.isNaN)
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      Map("id" -> s.id, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (s.ms - Tracer.covered(kids, s.start, s.end)))
    }
  }

  /** Writes each entry's result once, outside the timed passes, for the
    * checker; returns the entries that threw.
    */
  def dumpOutputs(entries: Seq[QDef], dir: String): Seq[String] = {
    Files.createDirectories(Paths.get(dir))
    val failures = entries.flatMap { d =>
      try { d.fn(spark, data).write.mode("overwrite").parquet(s"$dir/${d.name}"); None }
      catch { case NonFatal(ex) => Some(s"${d.name}: ${ex.toString.take(300)}") }
    }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json(entries.flatMap(d => d.oracle.map(d.name -> _)).toMap))
    failures
  }
}

/** Minimal JSON rendering for the report (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case m: Map[_, _]        => m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Seq[_]           => s.map(apply).mkString("[", ",", "]")
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number           => n.toString
    case other               => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
