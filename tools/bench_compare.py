#!/usr/bin/env python3
"""Compare a round's Spark bench runs against the same-box DuckDB
baseline: per-query median-of-runs vs the baseline, flagged at the 2x
grade line. Each total is printed with the per-query picture next to
it: the geometric mean of the per-query ratios and the count of queries
above 2x, since a total is dominated by its longest queries. Kernel-emulation oracles (t04) are excluded from the
comparable totals (DuckDB executing the repo's own algorithm is not a
capability baseline — r12 verdict).

Usage: python3 tools/bench_compare.py <duckdb.json> <spark_run.json...>
"""
import json
import math
import statistics
import sys

EXCLUDE = {"t04_fingerprint"}  # kernel-emulation oracle
# bucketed variants substitute their flat counterparts in the
# "bucketed-substituted" total
BUCKETED = {
    "tpch_q3_bucketed": "tpch_q3", "tpch_q5_bucketed": "tpch_q5",
    "tpch_q10_bucketed": "tpch_q10", "tpch_q12_bucketed": "tpch_q12",
    "tpch_q18_bucketed": "tpch_q18",
}


def picture(ratios):
    """Geomean of per-query ratios and the count above 2x."""
    g = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
    above = sum(r > 2.0 for r in ratios)
    return f"geomean {g:.2f}x, {above} of {len(ratios)} above 2x"


def main(base_path, run_paths):
    base = json.load(open(base_path))["queries"]
    runs = [json.load(open(p))["queries"] for p in run_paths]
    med = {}
    for q in runs[0]:
        vals = [r[q] for r in runs if q in r and r[q] >= 0]
        if vals:
            med[q] = statistics.median(vals)
    comparable = [q for q in med if q in base and q not in EXCLUDE
                  and q not in BUCKETED]
    print(f"{'query':24s} {'spark_med':>9s} {'duckdb':>8s} {'ratio':>6s}")
    for q in sorted(comparable, key=lambda q: -(med[q] / base[q])):
        r = med[q] / base[q]
        flag = "  <-- >2x" if r > 2.0 else ""
        print(f"{q:24s} {med[q]:9.3f} {base[q]:8.3f} {r:6.2f}{flag}")
    st = sum(med[q] for q in comparable)
    dt = sum(base[q] for q in comparable)
    print(f"\ncomparable set ({len(comparable)}): spark {st:.1f}s vs duckdb "
          f"{dt:.1f}s = {st / dt:.2f}x; "
          f"{picture([med[q] / base[q] for q in comparable])}")
    # bucketed-substituted: each flat query whose bucketed variant ran
    # is replaced by that variant
    subst = {f: med[b] for b, f in BUCKETED.items()
             if f in comparable and b in med}
    st2 = sum(subst.get(q, med[q]) for q in comparable)
    print(f"bucketed-substituted: spark {st2:.1f}s vs duckdb {dt:.1f}s = "
          f"{st2 / dt:.2f}x; "
          f"{picture([subst.get(q, med[q]) / base[q] for q in comparable])}")
    for b, f in sorted(BUCKETED.items()):
        if b in med and f in base:
            print(f"  {b:24s} {med[b]:8.3f} vs flat-duckdb {base[f]:8.3f} "
                  f"= {med[b] / base[f]:.2f}x")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
