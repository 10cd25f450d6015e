#!/usr/bin/env python3
"""graft benchmark: runs one named workload and prints one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The script
  1. builds the engine and the harness (perfbench/harness, one sbt
     project compiling both) unless the sources are unchanged since the
     last build;
  2. checks the row counts of the input tables (perfbench/data/sf0.1, a
     copy of the engine's sf0.1 test data);
  3. wipes the run root (.perfbench/run) and runs one JVM
     (perfbench.Harness): one session with its warehouse,
     spark.local.dir and java.io.tmpdir under the run root, WARMUPS
     warm-up passes (set-up is timed from process start to their end),
     then --seconds / PASS_S measured passes (the seed fixes each pass's
     entry order), then one dump of every entry's output;
  4. checks the dump: oracle entries against DuckDB, rows-only entries
     against perfbench/fingerprints.json;
  5. prints {"correct", "attempted", "failed", "metrics"} as the last
     line: end-to-end metrics with --trace 0, per-layer metrics with
     --trace 1 (alternating untraced and traced passes).
     The full report (every sample, spans, per-entry layer metrics,
     reconciliation, environment) goes to .perfbench/reports/.

The load is a closed loop with one client: each entry is built and
executed only after the previous one finished.

`--record-fingerprints` (after the usual arguments) stores the rows-only
fingerprints of this run instead of checking them.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.1")
HEAP = "4g"
# the first pass loads classes and compiles each plan's generated code;
# the later ones give the JIT time to compile the hot paths. The JIT is
# still compiling after a dozen passes, so a fixed count keeps the
# measured passes at the same point of its warm-up on every run. Each
# more pass costs 4-6 s a run, which 48 runs on a busy host cannot spare.
WARMUPS = 3
# A run measures a fixed number of passes, one per PASS_S seconds of
# --seconds (about a pass's wall time here), not as many as fit: passes
# get cheaper as the JIT goes on compiling, so a count that grew with
# speed would move the measured passes along that curve whenever the
# host or the program got faster or slower.
PASS_S = 3.0
JVM_TIMEOUT = 150
EXPECTED_ROWS = {"region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
                 "part": 20_000, "orders": 150_000, "lineitem": 600_000,
                 "events": 100_000, "documents": 5_000, "embeddings": 2_000}
TABLES = list(EXPECTED_ROWS)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def source_files():
    return (glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
            + glob.glob(os.path.join(HARNESS, "src/**/*.scala"), recursive=True)
            + [os.path.join(HARNESS, "build.sbt"),
               os.path.join(HARNESS, "project", "build.properties")])


def spark_home():
    """The Spark install whose jars the engine compiles and runs against:
    $SPARK_HOME, else the first spark-submit on PATH that sits in an
    install with a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install found (set SPARK_HOME)")


def build():
    """sbt compile of engine + harness, skipped when sources are unchanged."""
    stamp = os.path.join(WORK, "build.stamp")
    want = digest(source_files())
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(CLASSES):
        return want, 0.0
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = ("-Xmx3g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=800).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {WORK}/build.log")
    with open(stamp, "w") as f:
        f.write(want)
    return want, time.time() - t0


def java(main, args, log_name, timeout=JVM_TIMEOUT):
    """Runs a JVM with the run root as its temp dir; returns its exit code."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'run')}",
            "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}", main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(os.path.join(WORK, log_name), "w") as out:
        proc = subprocess.Popen(cmd, cwd=os.path.join(WORK, "run"), env=env,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{main} timed out after {timeout}s; see {WORK}/{log_name}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor
    gave to other guests, recorded so a noisy host shows in the report."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except OSError:
        return 0, 0


def fresh_run_root():
    root = os.path.join(WORK, "run")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root


def check_data():
    counts = {t: pq.ParquetFile(os.path.join(DATA, f"{t}.parquet")).metadata.num_rows
              for t in TABLES}
    if counts != EXPECTED_ROWS:
        fail(f"unexpected row counts {counts}")


# -- output check ----------------------------------------------------------

def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rowkey(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def sorted_rows(cols, rows):
    """Columns by name, rows in a canonical order (tools/check.py rules)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted((tuple(norm(r[i]) for i in order) for r in rows), key=rowkey))


def fingerprint(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(repr(rowkey(r)).encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def check_outputs(entries, sf_dir, check_dir, record):
    """Returns {entry: failure reason} for every entry that does not match."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    fp_path = os.path.join(HERE, "fingerprints.json")
    fps = json.load(open(fp_path)) if os.path.exists(fp_path) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for name in entries:
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            bad[name] = "no output"
            continue
        try:
            got_t = pq.read_table(out)
            got_cols, got = sorted_rows(got_t.column_names,
                                        [tuple(r.values()) for r in got_t.to_pylist()])
            if name in oracle:
                rel = con.sql(oracle[name])
                exp_cols, exp = sorted_rows(list(rel.columns), rel.fetchall())
                if got_cols != exp_cols:
                    bad[name] = f"columns {got_cols} vs {exp_cols}"
                elif len(got) != len(exp):
                    bad[name] = f"rows {len(got)} vs {len(exp)}"
                elif got != exp:
                    first = next((g, e) for g, e in zip(got, exp) if g != e)
                    bad[name] = f"values differ, first {first}"
            else:
                fp = fingerprint(got_cols, got)
                if record:
                    fps[name] = fp
                elif fps.get(name) != fp:
                    bad[name] = f"fingerprint {fp} vs {fps.get(name)}"
        except Exception as e:  # a checker error is a failed check, not a crash
            bad[name] = f"{type(e).__name__}: {e}"
    if record:
        with open(fp_path, "w") as f:
            json.dump(fps, f, indent=1, sort_keys=True)
            f.write("\n")
    return bad


# -- metrics ---------------------------------------------------------------

def tail(latencies):
    """The highest percentile with at least 10 samples beyond it: the
    11th-largest latency, at percentile 100 * (n - 10) / n."""
    xs = sorted(latencies)
    n = len(xs)
    return xs[max(0, n - 11)], round(100 * max(n - 10, 1) / n, 1), n


LAYERS = ["queries.build_ms", "plans.analysis_ms", "plans.optimization_ms",
          "plans.planning_ms", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
          "scheduler.idle_ms", "sources.scan_bytes", "sources.scan_rows",
          "sources.scan_stage_ms", "sources.write_bytes", "sources.write_rows",
          "exchange.write_bytes", "exchange.read_bytes", "exchange.records",
          "exchange.write_ms", "exchange.fetch_wait_ms", "exchange.spill_bytes",
          "compute.task_run_ms", "compute.task_cpu_ms", "compute.gc_ms",
          "compute.cpu_util", "plans.exchanges", "plans.reused_exchanges",
          "plans.broadcasts", "plans.joins_shj", "plans.joins_smj", "plans.joins_bhj"]
UNITS = {"ms": "ms", "bytes": "bytes", "rows": "rows", "util": "fraction"}


def unit(metric):
    return UNITS.get(metric.rsplit("_", 1)[-1], "count")


def middle_mean(xs):
    """Mean of the middle half: without the lowest and highest quarter (at
    least one value each side, so three values give their median). Per
    sample it varies less than the median does, while a pass hit by a JIT
    compile burst or a busy host is still left out."""
    xs = sorted(xs)
    k = max(1, len(xs) // 4) if len(xs) > 2 else 0
    return statistics.fmean(xs[k:len(xs) - k])


def end_to_end(report):
    execs = [e for e in report["execs"] if not e["traced"]]
    lat = [e["latency_s"] for e in execs]
    passes = [p for p in report["passes"] if not p["traced"]]
    by_entry = {}
    for e in execs:
        by_entry.setdefault(e["name"], []).append(e["latency_s"])
    # Wall times are reported, not bounded: on a shared host, other
    # guests' load spreads them by a third or more from run to run, past
    # the largest bound a metric may have. The JVM's CPU time per pass,
    # net of the JIT's compile time, leaves out the time the host gives
    # to others and spreads far less, so it carries the bound. (Per
    # entry the net figure is too coarse to bound: under host load the
    # compile time, which is elapsed time, can exceed an entry's CPU.)
    # The median and tail of 15 to 35 executions of 3 to 7 different
    # entries per run also jump between entries from run to run.
    tail_v, tail_p, n = tail(lat)
    info = {"pass_s": statistics.median(p["wall_s"] for p in passes),
            "query_geomean_s": math.exp(statistics.fmean(
                math.log(statistics.median(v)) for v in by_entry.values())),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": tail_v, "tail_percentile": tail_p, "tail_samples": n,
            "pass_jit_s": statistics.median(p["jit_s"] for p in passes),
            "measured_passes": len(passes)}
    metrics = {
        "setup_s": (report["setup"]["setup_s"], "s"),
        "pass_cpu_s": (middle_mean(p["cpu_s"] for p in passes), "s"),
        "heap_live_peak_mb": (report["setup"]["heap_live_peak_mb"], "MB"),
    }
    return metrics, info


def per_layer(report, cores):
    """Per-pass sums over entries, median over traced passes; plus the
    per-entry medians and the reconciliation summary for the report."""
    traced = [e for e in report["execs"] if e["traced"]]
    passes = sorted({e["pass"] for e in traced})

    def pass_sum(p, k):
        return sum(e["layers"][k] for e in traced if e["pass"] == p)

    def util(es):
        """Task CPU of the execute spans over the CPU their wall time
        offered (build-time jobs are in neither)."""
        wall = sum(e["layers"]["compute.execute_ms"] for e in es)
        return sum(e["layers"]["compute.execute_cpu_ms"] for e in es) / (wall * cores) if wall else 0.0

    metrics = {}
    for k in LAYERS:
        if k == "compute.cpu_util":
            v = statistics.median(util([e for e in traced if e["pass"] == p]) for p in passes)
        else:
            v = statistics.median(pass_sum(p, k) for p in passes)
        metrics[k] = (v, unit(k))
    entries = {}
    for e in traced:
        entries.setdefault(e["name"], []).append(e)
    per_entry = {name: {k: statistics.median(x["layers"][k] for x in es) if k != "compute.cpu_util"
                        else util(es) for k in LAYERS}
                 for name, es in entries.items()}
    recon = {k: max(abs(e["layers"][k]) for e in traced)
             for k in ("recon.entry_unattributed_ms", "recon.catalyst_excess_ms",
                       "recon.execute_unattributed_ms")}
    walls = {t: [p["wall_s"] for p in report["passes"] if p["traced"] == t] for t in (False, True)}
    recon["trace_overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    recon["untraced_pass_s"] = statistics.median(walls[False])
    return metrics, per_entry, recon


def environment(src_digest):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    jv = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {"nproc": os.cpu_count(), "heap": HEAP, "git_commit": commit,
            "source_sha256": src_digest, "java": jv[0] if jv else None,
            "python_duckdb": duckdb.__version__}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft source tree (no build.sbt / src/main/scala/graft)")
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    src_digest, build_s = build()
    check_data()

    root = fresh_run_root()
    steal0, total0 = cpu_ticks()
    out = os.path.join(WORK, "run.json")
    if java("perfbench.Harness", [
            "--workload", a.workload, "--data", DATA, "--work", root, "--seed", str(a.seed),
            "--passes", str(max(4 if a.trace else 3, round(a.seconds / PASS_S))),
            "--trace", str(a.trace), "--warmups", str(WARMUPS),
            "--out", out], "run.log") != 0:
        fail(f"measuring JVM failed; see {WORK}/run.log")
    report = json.load(open(out))
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    warmup_failed = report["setup"]["failures"]
    for f in warmup_failed:
        log(f"warm-up failed: {f}")
    names = list(dict.fromkeys(e["name"] for e in report["execs"]))
    bad = check_outputs(names, DATA, os.path.join(root, "check"),
                        a.record_fingerprints)
    for f in report["check_failures"]:
        bad.setdefault(f.split(":")[0], f)
    for n, why in bad.items():
        log(f"check failed: {n}: {why}")
    exec_failed = sum(1 for e in report["execs"] if not e["ok"])
    for e in report["execs"]:
        if not e["ok"]:
            log(f"execution failed: {e['name']}: {e['error']}")
    attempted = len(report["execs"]) + len(names)
    failed = exec_failed + len(bad)

    if a.trace:
        metrics, per_entry, recon = per_layer(report, report["env"]["cores"])
        extra = {"per_entry": per_entry, "reconciliation": recon, "spans": report["spans"]}
        log(f"tracing overhead {recon['trace_overhead_s']:+.3f} s per pass "
            f"(untraced pass {recon['untraced_pass_s']:.3f} s); max unattributed: "
            f"entry {recon['recon.entry_unattributed_ms']:.2f} ms, "
            f"execute {recon['recon.execute_unattributed_ms']:.2f} ms, "
            f"catalyst beyond build+execute {recon['recon.catalyst_excess_ms']:.2f} ms")
    else:
        metrics, extra = end_to_end(report)
        log(f"pass_s {extra['pass_s']:.4f} s; query_geomean_s {extra['query_geomean_s']:.4f} s; "
            f"JIT compile time per pass {extra['pass_jit_s']:.2f} s; "
            f"query_p50_s {extra['query_p50_s']:.4f} s; "
            f"query_tail_s {extra['query_tail_s']:.4f} s is p{extra['tail_percentile']} of "
            f"{extra['tail_samples']} executions over {extra['measured_passes']} passes")
    ok = failed == 0 and not warmup_failed
    result = {"correct": ok, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    full = {"result": result, "error_rate": failed / attempted, "setup": report["setup"],
            "build_s": build_s, "check_failures": bad,
            "env": {**report["env"], **environment(src_digest), "cpu_steal_fraction": steal},
            "args": vars(a),
            "samples": report["execs"], "passes": report["passes"], **extra}
    path = os.path.join(WORK, "reports", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(full, f)
    log(f"report: {path} (cpu steal during the run: {100 * steal:.1f}%)")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
