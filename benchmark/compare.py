#!/usr/bin/env python3
"""Summarizes and compares benchmark records (benchmark/records/*.json).

    python3 benchmark/compare.py report RECORDS...
    python3 benchmark/compare.py diff BASE_RECORDS... -- CHANGE_RECORDS...

RECORDS are record files or directories holding them.

`report` prints, per workload and end-to-end metric, the median and
quartiles of the untraced runs and their spread (interquartile range as
a share of the median) against the metric's bound in BENCHMARK.json; the
per-kind latency view (ingest, stream, serve, ...) with its tail
percentile; the tracing overhead (traced minus untraced medians); whether
the deterministic counters repeat exactly across traced runs of one
seed; and the workload profile recorded in BENCHMARK.json.

`diff` prints, per (workload, metric), both sides' medians and
quartiles, the pairs the change wins (runs paired by seed), and a
verdict under the metric's bound: `better`, `same`, `worse` (a
regression beyond the bound) or `unresolved` (the base's own spread
exceeds the bound and not every change run beats every base run). It
then diffs the counters of the traced runs exactly and shows per-layer
self-time deltas next to them.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
E2E = {m["name"]: m for m in SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# Counters a traced run of one seed must reproduce exactly.
DETERMINISTIC = ["queries.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
                 "shuffle.write_bytes", "shuffle.write_records", "sources.bytes_written"]


def load(paths):
    recs = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                r = json.load(fh)
            if "workload" in r and "end_to_end" in r:
                recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def by(recs, traced):
    out = {}
    for r in recs:
        if r["traced"] == traced:
            out.setdefault(r["workload"], []).append(r)
    return out


def e2e(runs, metric):
    return [r["end_to_end"][metric]["value"] for r in runs if metric in r["end_to_end"]]


def fmt(x):
    return f"{x:.4g}"


def report(recs):
    untraced, traced = by(recs, False), by(recs, True)
    for w, runs in sorted(untraced.items()):
        print(f"== {w}: {len(runs)} untraced runs, seeds {sorted(r['seed'] for r in runs)}")
        print(f"  {'metric':<16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
        for name, m in E2E.items():
            xs = e2e(runs, name)
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = spread(xs)
            flag = "" if sp <= m["bound"] else "  spread > bound"
            print(f"  {name:<16} {fmt(med):>10} {fmt(q1):>10} {fmt(q3):>10} {sp:>8.3f} {m['bound']:>6}{flag}")
        kinds = sorted({k for r in runs for k in r["samples"]})
        print("  per-kind samples (median over runs of each run's p50 and tail):")
        for k in kinds:
            s = [r["samples"][k] for r in runs if k in r["samples"]]
            print(f"    {k:<32} p50 {fmt(statistics.median(x['p50'] for x in s)):>10}"
                  f"  tail {fmt(statistics.median(x['tail'] for x in s)):>10}"
                  f" (p{statistics.median(x['tail_pct'] for x in s):.0f} of"
                  f" {statistics.median(x['n'] for x in s):.0f} samples)")
        if w in traced:
            print(f"  tracing overhead ({len(traced[w])} traced runs), traced - untraced median:")
            for name in E2E:
                a, b = e2e(traced[w], name), e2e(runs, name)
                if a and b:
                    d = statistics.median(a) - statistics.median(b)
                    print(f"    {name:<16} {fmt(d):>10} ({d / statistics.median(b):+.1%})")
    for w, runs in sorted(traced.items()):
        seeds = {}
        for r in runs:
            seeds.setdefault(r["seed"], []).append(r)
        for seed, rs in sorted(seeds.items()):
            if len(rs) < 2:
                continue
            print(f"== {w} seed {seed}: counters across {len(rs)} traced runs")
            for c in DETERMINISTIC:
                vals = [r["per_layer"][c]["value"] for r in rs]
                print(f"  {c:<24} {'repeats' if len(set(vals)) == 1 else 'DIFFERS'} {vals}")
        print(f"== {w}: profile over {len(runs)} traced runs (share of a warm pass)")
        for label, num in (("driver only", "exec.driver_only_s"),
                           ("shuffle fetch wait", "shuffle.fetch_wait_s")):
            shares = [r["per_layer"][num]["value"] / r["end_to_end"]["warm_pass_s"]["value"]
                      for r in runs]
            print(f"  {label:<20} {statistics.median(shares):.3f}")
        print(f"  {'executor busy':<20} "
              f"{statistics.median(r['per_layer']['exec.core_util']['value'] for r in runs):.3f}"
              " (task time / (cores x wall))")


def diff(base, change):
    ub, uc = by(base, False), by(change, False)
    for w in sorted(set(ub) & set(uc)):
        print(f"== {w}: {len(ub[w])} base runs, {len(uc[w])} change runs")
        print(f"  {'metric':<16} {'base med':>10} {'[q1, q3]':>22} {'change med':>10}"
              f" {'[q1, q3]':>22} {'wins':>7}  verdict")
        for name, m in E2E.items():
            xb, xc = e2e(ub[w], name), e2e(uc[w], name)
            if not xb or not xc:
                continue
            lower = m["better"] == "lower"
            qb, qc = quartiles(xb), quartiles(xc)
            seeds_b = {r["seed"]: r["end_to_end"][name]["value"] for r in ub[w]}
            pairs = [(seeds_b[r["seed"]], r["end_to_end"][name]["value"])
                     for r in uc[w] if r["seed"] in seeds_b]
            wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
            worse = (qc[1] - qb[1]) / qb[1] if lower else (qb[1] - qc[1]) / qb[1]
            all_better = (max(xc) < min(xb)) if lower else (min(xc) > max(xb))
            if spread(xb) > m["bound"] and not all_better:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "worse"
            elif all_better or (pairs and wins >= 0.9 * len(pairs) and -worse > spread(xb)):
                verdict = "better"
            else:
                verdict = "same"
            print(f"  {name:<16} {fmt(qb[1]):>10} {f'[{fmt(qb[0])}, {fmt(qb[2])}]':>22}"
                  f" {fmt(qc[1]):>10} {f'[{fmt(qc[0])}, {fmt(qc[2])}]':>22}"
                  f" {wins:>3}/{len(pairs):<3}  {verdict}")
    tb, tc = by(base, True), by(change, True)
    for w in sorted(set(tb) & set(tc)):
        print(f"== {w}: per-layer, traced runs ({len(tb[w])} base, {len(tc[w])} change)")
        for name, unit in LAYER_UNITS.items():
            vb = [r["per_layer"][name]["value"] for r in tb[w]]
            vc = [r["per_layer"][name]["value"] for r in tc[w]]
            if unit in ("count", "bytes"):
                b, c = statistics.median(vb), statistics.median(vc)
                if b != c or name in DETERMINISTIC:
                    print(f"  {name:<36} {fmt(b):>12} -> {fmt(c):>12}  delta {fmt(c - b)}")
            elif name.endswith(".self_s"):
                b, c = statistics.median(vb), statistics.median(vc)
                print(f"  {name:<36} {fmt(b):>12} -> {fmt(c):>12}  self-time delta {fmt(c - b)} s")


def main(argv):
    if len(argv) >= 2 and argv[0] == "report":
        report(load(argv[1:]))
    elif len(argv) >= 4 and argv[0] == "diff" and "--" in argv:
        i = argv.index("--")
        diff(load(argv[1:i]), load(argv[i + 1:]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
