#!/usr/bin/env python3
"""Diff two graft.Bench records entry by entry.

Usage: python3 tools/bench_diff.py <base_record.json> <change_record.json> [--all]

For every entry in both records it prints:
  - the warm-minimum wall delta, marked `noise` when it lies inside the
    larger of the two entries' warm spreads, else `faster` / `slower`;
  - the exact delta of every counter (shuffle write bytes and records,
    jobs, stages, and Janino compiles where both records carry them);
    executor CPU is a time, so it is shown, not judged.
By default only entries with a counter change or a wall change beyond
noise are listed; --all lists every entry. A summary follows: verdict
counts, the warm totals against the spread totals, the summed counter
deltas, and entries that failed or exist on one side only.

Records written before Bench kept per-entry spreads and counters (the
`queries` / `queries_warm` / `forced` maps) are read too: their entries
carry cold and warm-minimum seconds only (`forced` times were single
shots, -1 meaning failed), so only the other side's spread bounds the
noise and counters are reported as missing.
"""
import json
import sys

COUNTERS = ("shuffle_write_bytes", "shuffle_write_records", "jobs", "stages")
# Counted only where both records have it: records written before Bench
# counted codegen compiles lack the field.
OPTIONAL = ("compiles",)


def load(path):
    """(totals, entries, errors) of a record; totals maps warm, cold and
    spread to the record's summed seconds (None when absent)."""
    with open(path) as f:
        rec = json.loads(f.readline())
    if "entries" in rec:
        totals = {"warm": rec["value"], "cold": rec["cold_total"],
                  "spread": rec["spread_total"]}
        return totals, rec["entries"], rec.get("errors", {})
    totals = {"warm": rec.get("warm_total"), "cold": rec.get("value"),
              "spread": None}
    entries = {n: {"warm_min_s": w, "cold_s": rec.get("queries", {}).get(n)}
               for n, w in rec.get("queries_warm", {}).items()}
    errors = dict(rec.get("errors", {}))
    for n, s in rec.get("forced", {}).items():
        if s < 0:
            errors[n] = "failed (single shot)"
        else:
            entries[n] = {"warm_min_s": s, "cold_s": s}
    return totals, entries, errors


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    show_all = "--all" in argv
    (tot_a, a, err_a), (tot_b, b, err_b) = load(args[0]), load(args[1])
    verdicts = {"faster": 0, "slower": 0, "noise": 0}
    sums = dict.fromkeys(COUNTERS + OPTIONAL, 0)
    counted = 0
    for name in sorted(set(a) & set(b)):
        x, y = a[name], b[name]
        dw = y["warm_min_s"] - x["warm_min_s"]
        spread = max(x.get("spread_s", 0.0), y.get("spread_s", 0.0))
        verdict = "noise" if abs(dw) <= spread else ("slower" if dw > 0 else "faster")
        verdicts[verdict] += 1
        deltas = []
        if all(c in x and c in y for c in COUNTERS):
            counted += 1
            for c in COUNTERS + tuple(o for o in OPTIONAL if o in x and o in y):
                sums[c] += y[c] - x[c]
                if y[c] != x[c]:
                    deltas.append(f"{c} {y[c] - x[c]:+d} ({x[c]} -> {y[c]})")
            changed = bool(deltas)
            deltas.append(f"cpu_s {x['cpu_s']:.3f} -> {y['cpu_s']:.3f}")
        else:
            changed = False
            deltas.append("counters missing")
        if show_all or verdict != "noise" or changed:
            print(f"{name:34s} warm {x['warm_min_s']:8.3f} -> {y['warm_min_s']:8.3f} "
                  f"({dw:+.3f} s, spread {spread:.3f}: {verdict})  " + "; ".join(deltas))
    print()
    print(f"entries in both: {len(set(a) & set(b))}; wall: "
          + ", ".join(f"{k} {v}" for k, v in verdicts.items()))
    for key in ("warm", "cold"):
        if tot_a[key] is not None and tot_b[key] is not None:
            spreads = [f"{t['spread']:.3f}" if t["spread"] is not None else "n/a"
                       for t in (tot_a, tot_b)]
            print(f"{key} total: {tot_a[key]:.3f} -> {tot_b[key]:.3f} s "
                  f"({tot_b[key] - tot_a[key]:+.3f}); spread total "
                  f"{spreads[0]} -> {spreads[1]}")
    if counted:
        print(f"counter deltas summed over {counted} entries: "
              + ", ".join(f"{c} {sums[c]:+d}" for c in COUNTERS + OPTIONAL))
    for label, names in (("only in base", set(a) - set(b) - set(err_b)),
                         ("only in change", set(b) - set(a) - set(err_a)),
                         ("failed in base", set(err_a)),
                         ("failed in change", set(err_b))):
        if names:
            print(f"{label}: {', '.join(sorted(names))}")


if __name__ == "__main__":
    main(sys.argv[1:])
