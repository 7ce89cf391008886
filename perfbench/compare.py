#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a base (the parent commit) and a
change.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--json]

Each directory holds run result files as run.py writes them to
perfbench/.runs/ (copy each side's runs to a directory of its own).
For every workload and end-to-end metric it prints each side's median
and quartiles, the share of paired runs (same seed) the change won, and
a verdict by the rule of choosing-metrics section 8:

  improved    the change wins at least 9 in 10 pairs (ties count for
              neither) and the medians differ, in the better direction,
              by more than the distance between the base's quartiles
  unresolved  the base's own spread (quartile distance over median) is
              wider than the metric's bound, and not every change run
              beats every base run
  worse       the change's median is worse than the base's by more than
              the bound
  unchanged   otherwise

All runs of a workload, on both sides, must share one --seconds (it
sizes the work); runs of different lengths are refused. A change run
that reports a wrong answer makes every verdict of its
workload "worse". The workloads' own metrics (freshness_p50_s, ...) are
compared the same way under the bound of the end-to-end metric they
feed. Then it diffs the per-layer metrics of the traced runs (median
over each side's traced runs of a workload). Each side's median host
CPU steal is printed first: a side measured while the host was busy
with other guests reads slower for that reason alone.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent

# a workload metric is judged under the bound of the end-to-end metric
# it is, or feeds
FEEDS = {
    "freshness_p50_s": "op_p50_s", "chain_freshness_p50_s": "op_p50_s",
    "view_query_p50_s": "read_p50_s", "verdict_read_p50_s": "read_p50_s",
    "ingest_rows_per_s": "ops_per_s", "chain_docs_per_s": "ops_per_s",
    "dim_refresh_p50_s": "ops_per_s", "point_p50_s": "ops_per_s",
}


def load(d):
    runs = []
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if "workload" in r and not r.get("corrupt"):
            runs.append(r)
    if not runs:
        sys.exit(f"no run results in {d}")
    return runs


def check_lengths(base_runs, change_runs):
    """Every run of a workload, on both sides, must have measured for
    the same --seconds: the run length sizes the work."""
    for w in sorted({r["workload"] for r in base_runs + change_runs}):
        secs = sorted({r["seconds"] for r in base_runs + change_runs
                       if r["workload"] == w})
        if len(secs) > 1:
            sys.exit(f"{w}: runs of different lengths ({secs} seconds); "
                     "compare runs of one length")


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, change, higher_better, bound, wins, pairs, correct):
    if not correct:
        return "worse"
    b1, bm, b3 = quartiles([v for _, v in base])
    cm = statistics.median([v for _, v in change])
    sign = 1 if higher_better else -1
    gain = sign * (cm - bm)
    if pairs and wins >= 0.9 * pairs and gain > (b3 - b1):
        return "improved"
    bvals, cvals = [v for _, v in base], [v for _, v in change]
    all_better = (min(cvals) > max(bvals) if higher_better
                  else max(cvals) < min(bvals))
    if bm and (b3 - b1) / abs(bm) > bound and not all_better:
        return "unresolved"
    if bm and -gain / abs(bm) > bound:
        return "worse"
    return "unchanged"


def compare(base_runs, change_runs, spec):
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    rows = []
    workloads = sorted({r["workload"] for r in base_runs} &
                       {r["workload"] for r in change_runs})
    for w in workloads:
        b = [r for r in base_runs if r["workload"] == w and not r["trace"]]
        c = [r for r in change_runs if r["workload"] == w and not r["trace"]]
        if not b or not c:
            continue
        correct = all(r["correct"] for r in c)
        metrics = list(e2e) + sorted(b[0]["named"])
        for m in metrics:
            spec_m = e2e.get(m) or e2e[FEEDS.get(m, "ops_per_s")]
            higher = (spec_m["better"] == "higher" if m in e2e
                      else m.endswith("_per_s"))
            def vals(rs):
                return [(r["seed"], (r["end_to_end"] if m in e2e
                                     else r["named"]).get(m))
                        for r in rs]
            bv = [(s, v) for s, v in vals(b) if v is not None]
            cv = [(s, v) for s, v in vals(c) if v is not None]
            if not bv or not cv:
                continue
            cmap = dict(cv)
            wins = pairs = 0
            for s, v in bv:
                if s in cmap:
                    pairs += 1
                    if (cmap[s] > v) if higher else (cmap[s] < v):
                        wins += 1
            rows.append({
                "workload": w, "metric": m, "unit": spec_m["unit"]
                if m in e2e else "", "bound": spec_m["bound"],
                "base": quartiles([v for _, v in bv]),
                "change": quartiles([v for _, v in cv]),
                "runs": (len(bv), len(cv)), "pairs": pairs,
                "won": wins / pairs if pairs else None,
                "verdict": verdict(bv, cv, higher, spec_m["bound"], wins,
                                   pairs, correct)})
    return rows


def layer_diff(base_runs, change_runs):
    out = []
    for w in sorted({r["workload"] for r in base_runs}):
        b = [r["per_layer"] for r in base_runs
             if r["workload"] == w and r["trace"]]
        c = [r["per_layer"] for r in change_runs
             if r["workload"] == w and r["trace"]]
        if not b or not c:
            continue
        for k in sorted(b[0]):
            bv = statistics.median(x.get(k, 0.0) for x in b)
            cv = statistics.median(x.get(k, 0.0) for x in c)
            if bv or cv:
                out.append({"workload": w, "metric": k, "base": bv,
                            "change": cv,
                            "delta": (cv / bv - 1) if bv else None})
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("change")
    p.add_argument("--json", action="store_true",
                   help="print the comparison as JSON")
    a = p.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    base, change = load(a.base), load(a.change)
    check_lengths(base, change)
    rows, layers = compare(base, change, spec), layer_diff(base, change)
    if a.json:
        print(json.dumps({"end_to_end": rows, "per_layer": layers}, indent=1))
        return
    for name, runs in (("base", base), ("change", change)):
        steal = [r["host_steal_frac"] for r in runs if "host_steal_frac" in r]
        if steal:
            print(f"{name}: median host CPU steal {statistics.median(steal):.1%} "
                  f"over {len(steal)} runs")
    print(f"{'workload':<12} {'metric':<22} {'base q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'won':>5} verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        won = "-" if r["won"] is None else f"{r['won']:.0%}"
        print(f"{r['workload']:<12} {r['metric']:<22} {fmt(r['base']):>28} "
              f"{fmt(r['change']):>28} {won:>5} {r['verdict']}"
              f"  (runs {r['runs'][0]}/{r['runs'][1]}, bound {r['bound']})")
    if layers:
        print("\nper-layer (traced runs, median per side):")
        for r in layers:
            d = "" if r["delta"] is None else f"{r['delta']:+.1%}"
            print(f"{r['workload']:<12} {r['metric']:<52} "
                  f"{r['base']:12.4f} {r['change']:12.4f} {d:>8}")


if __name__ == "__main__":
    main()
