#!/usr/bin/env python3
"""graft's benchmark: runs one workload and prints one JSON result line.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

On first use it compiles graft's main sources together with the
benchmark driver (sbt, offline) and generates the workload's input
tables from a fixed fixture seed; both are cached under
benchmark/target/. For incremental, stage_batches.py then cuts the
events tape into daily batches for the seed. One JVM runs the workload
at local[<cores>], one client thread in a closed loop:
  - 3 set-ups (interactive: build the ANN and LSH indexes; incremental:
    new ledgers and stream runs); setup_s is their median;
  - a cold pass, then ceil(seconds / 7) warm passes, whose operations
    give the latency samples (a run needs at least 30 of them);
  - the output checks, untimed: interactive digests the frames of the
    last pass and compares them with benchmark/reference/interactive.json,
    incremental compares ledgers, serves and twins with their batch
    twins.
The seed picks the operation order and the ANN/LSH probe vectors
(interactive) or the batch cut points and late rows (incremental).

End-to-end metrics (--trace 0): setup_s, cold_pass_s, warm_pass_s
(median warm pass), op_p50_s and op_tail_s (median and highest
percentile with ten samples beyond it, over warm operations),
success_rate (1 - failed / attempted; a wrong output counts as failed)
and peak_rss_mb (read before the checks). --trace 1 registers Spark listeners, records spans and
prints the per-layer metrics instead. The last stdout line is
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}. A full
record of the run (samples by kind with their tail percentiles, pass
orders, per-layer values, fixture sizes, cores, source stamp) is written
to benchmark/records/ under a name no other run uses; compare.py reads
them.

Other flags: --record-reference writes the workload's reference output
digests; --inject-failure <op> makes one operation fail (selftest.py);
--sf overrides the scale factor; --records and --reference
redirect those files.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

WORKLOADS = ("interactive", "incremental")
# The scale factor of the generated tables.
SF = "0.01"
# About the time one warm pass of either workload takes on 4 cores.
# --seconds buys ceil(seconds / PASS_S) warm passes: a fixed count, so
# every run does the same work and reports its tail at the same
# percentile.
PASS_S = 7
# Daily batches the incremental workload stages: a cold pass and up to
# seven warm passes.
DAYS = 8

# The heap and its young generation have fixed sizes but are not
# pre-touched: a page becomes resident only when the program first uses
# it, so peak_rss_mb follows the data the program keeps (old generation)
# and what it holds outside the heap, while the collector's heap and
# young-generation resizing, and per-thread malloc arenas, which all
# follow thread timing, do not move it from run to run.
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}
JVM_OPTS = [
    "-Xms1g", "-Xmx1g", "-Xmn256m", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha1()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it. On a timeout
    or an interruption the whole group is killed and reaped first."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles graft and the benchmark harness unless the sources are unchanged."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(src, "graft", "SparkEntry.scala")):
        sys.exit("[bench] graft's sources (src/main/scala) are missing; "
                 "run from the root of a graft checkout")
    stamp = os.path.join(TARGET, "build.stamp")
    digest = tree_hash([src, os.path.join(BENCH, "scala"),
                        os.path.join(BENCH, "build.sbt"),
                        os.path.join(BENCH, "project", "build.properties")])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    log("building (sbt compile)")
    t0 = time.time()
    code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.forcestart=false", "compile"],
                        BUILD_TIMEOUT_S, cwd=BENCH, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if code != 0:
        sys.exit(f"[bench] build failed (exit {code})")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return digest


def fixture(sf):
    """Generates the input tables for scale factor `sf` once."""
    d = os.path.join(TARGET, "fixture", f"sf{sf}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        log(f"generating tables at sf {sf}")
        code, _ = run_child([sys.executable, os.path.join(BENCH, "gen_fixture.py"), d, sf],
                            300, stdout=sys.stderr)
        if code != 0:
            sys.exit(f"[bench] table generation failed (exit {code})")
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def commit():
    """The git commit, when run from a git checkout."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    p = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or "none"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--sf")
    ap.add_argument("--records", default=os.path.join(BENCH, "records"))
    ap.add_argument("--reference")
    ap.add_argument("--record-reference", action="store_true")
    ap.add_argument("--inject-failure")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[bench] terminated"))

    started = time.time()
    source = build()
    sf = a.sf or SF
    fx = fixture(sf)
    reference = a.reference or os.path.join(BENCH, "reference", f"{a.workload}.json")
    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(spark_jars):
        sys.exit("[bench] SPARK_HOME must name a Spark 4.1 install")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-cp", f"{CLASSES}:{spark_jars}/*", "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--fixture", fx, "--sf", sf, "--work", work,
            "--records", os.path.abspath(a.records), "--reference", reference,
            "--cores", str(cores()),
            "--warm-passes", str(max(1, math.ceil(a.seconds / PASS_S))),
            "--source", f"src:{source},commit:{commit()}"]
           + (["--record-reference"] if a.record_reference else [])
           + (["--inject-failure", a.inject_failure] if a.inject_failure else []))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "incremental":
            code, _ = run_child([sys.executable, os.path.join(BENCH, "stage_batches.py"),
                                 os.path.join(fx, "events.parquet"),
                                 os.path.join(work, "staged"), str(a.seed), str(DAYS)],
                                60, stdout=sys.stderr)
            if code != 0:
                sys.exit(f"[bench] staging the batches failed (exit {code})")
        code, out = run_child(cmd, max(30, RUN_TIMEOUT_S - (time.time() - started)),
                              cwd=work, stdout=subprocess.PIPE, text=True,
                              env=dict(os.environ, **JVM_ENV))
    except subprocess.TimeoutExpired:
        sys.exit("[bench] run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0:
        sys.exit(f"[bench] run failed (exit {code})")
    if a.record_reference:
        log(f"wrote {reference}")
        return
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("[bench] no result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
