#!/usr/bin/env python3
"""Self-tests of the benchmark on a tiny generated fixture (sf 0.001).

    python3 benchmark/selftest.py

Checks that
  - every workload prints every end-to-end metric (untraced) and every
    per-layer metric (traced) of BENCHMARK.json, each with its unit;
  - an injected failing operation raises the error rate and leaves no
    latency sample;
  - changing the seed changes the operation order and the batch cut
    points but not the set of operations or the batch length.
Exits non-zero on the first failed check.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
WORK = os.path.join(BENCH, "target", "selftest")
SF = "0.001"


def run(workload, seed, trace, *extra):
    recs = os.path.join(WORK, f"{workload}-{seed}-{trace}-{len(extra)}")
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace), "--sf", SF,
           "--records", recs, "--reference", os.path.join(WORK, f"{workload}.json"),
           *extra]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)}\n{p.stderr[-3000:]}")
    if "--record-reference" in extra:
        return None, None
    result = json.loads(p.stdout.strip().splitlines()[-1])
    record = json.load(open(glob.glob(os.path.join(recs, "*.json"))[0]))
    return result, record


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        sys.exit(1)


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    want = {"0": {m["name"]: m["unit"] for m in SPEC["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in SPEC["per_layer"]}}
    runs = {}
    for w in (x["name"] for x in SPEC["workloads"]):
        if w != "incremental":
            run(w, 1, 0, "--record-reference")
        for seed, trace in ((1, "0"), (2, "1")):
            result, record = run(w, seed, trace)
            runs[w, seed] = record
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == want[trace], f"{w} --trace {trace}: every metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                  f"{w} --trace {trace}: every value is a number")
            check(result["correct"] and result["failed"] == 0,
                  f"{w} --trace {trace}: outputs pass their checks")

    w = "interactive"
    victim = runs[w, 1]["plan"]["ops"][0]
    result, record = run(w, 1, "0", "--inject-failure", victim)
    clean = runs[w, 1]
    check(result["failed"] > 0 and not result["correct"]
          and result["metrics"]["success_rate"]["value"] < 1.0,
          f"injected failure in {victim} raises the error rate")
    check(all(victim not in p["lat_s"] for p in record["passes"]),
          f"{victim} leaves no latency sample")
    check(all(len(p["lat_s"]) == len(c["lat_s"]) - 1
              for p, c in zip(record["passes"][1:], clean["passes"][1:])),
          "every other operation still gives its sample")

    a, b = runs[w, 1], runs[w, 2]
    check(a["passes"][1]["order"] != b["passes"][1]["order"], "interactive: seed changes the order")
    check(sorted(a["plan"]["ops"]) == sorted(b["plan"]["ops"]) and
          sorted(a["passes"][1]["order"]) == sorted(b["passes"][1]["order"]),
          "interactive: seed keeps the set of operations")
    a, b = runs["incremental", 1], runs["incremental", 2]
    check(a["plan"]["cuts_us"] != b["plan"]["cuts_us"], "incremental: seed changes the cut points")
    check(all(len({y - x for x, y in zip(r["plan"]["cuts_us"], r["plan"]["cuts_us"][1:])}) == 1
              for r in (a, b)), "incremental: every batch after the first spans the same time")
    ops = lambda r: sorted(k.split("#")[0] for k in r["passes"][1]["lat_s"])
    check(ops(a) == ops(b) and a["plan"]["twins"] == b["plan"]["twins"],
          "incremental: seed keeps the set of operations")
    shutil.rmtree(WORK, ignore_errors=True)
    print("all self-tests passed")


if __name__ == "__main__":
    main()
