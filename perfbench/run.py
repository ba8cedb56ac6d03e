#!/usr/bin/env python3
"""Warehouse benchmark: one command per run, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload daily_warehouse|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library's sources
together with the benchmark program (perfbench/build.sbt, outputs under
.bench_build/); later runs reuse the build while no source changed.

A run generates its inputs from --seed, starts one JVM with a
GraftSession.local(nproc) session, measures a closed loop with one client
(the daily chain once; as many query rounds as --seconds holds at 7.5 s
each), checks every output outside the timed region,
and prints as its last stdout line one JSON object: {"correct",
"attempted", "failed", "metrics"}. A failed check prints "correct": false
and exits 1; a run that cannot run exits 2-4 without a result.

--trace 0 reports the end-to-end metrics. --trace 1 reports the per-layer
metrics (layers.py) and writes the full trace to
.bench_build/traces/<workload>-<seed>.json; diff.py compares two traces.
The workloads, metrics and layers are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import feed  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
# After the build, a run must end within 180 s.
RUN_LIMIT_S = 170

# The daily chain's length. By day 4 the carried State's driver-side
# growth shows (BASELINE.md); measured cold, the chain takes about 38 s on
# a 4-core host. A fifth day would put the benchmark's full evaluation
# (48 runs) at the edge of its time budget.
DAYS = 4
WORKLOADS = ("daily_warehouse", "query_mix")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile library + benchmark program with sbt unless the sources are
    unchanged."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building library + benchmark program (sbt compile)")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def java_cmd(classes, work, args, main="perfbench.Main"):
    spark_jars = os.path.join(spark_home(), "jars")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Fixed 2 GiB heap: the same memory behaviour on every run. Two JIT
    # compiler threads and two GC threads (defaults on 4 cores: 3 and 4):
    # a cold chain's compiling otherwise keeps every core busy, and the
    # run's time then follows whatever else the host runs. Measured on
    # 4 cores, five interleaved daily pairs: wall_s spread 0.08 with these
    # against 0.22 with the defaults, and a median 7 % lower.
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
             "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2"]
            + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
               f"-Dderby.system.home={tmp}",
               "-Dspark.ui.enabled=false",
               "-cp", f"{classes}{os.pathsep}{spark_jars}/*", main] + args)


def run_jvm(classes, work, args, deadline):
    """Run the benchmark program once; return its result JSON."""
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    try:
        r = subprocess.run(java_cmd(classes, work, args + ["--result", result]),
                           stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL,
                           timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM ran past the run's {RUN_LIMIT_S} s limit", 4)
    if r.returncode != 0:
        fail(f"benchmark JVM exited with {r.returncode}", 4)
    with open(result, encoding="utf-8") as f:
        return json.load(f)


def check_warehouse(c, m):
    """Compare the chain's observed counts `c` with the feed model `m`."""
    problems = []
    for k in ("keys", "versions", "fact_rows"):
        if c.get(k) != m[k]:
            problems.append(f"{k} {c.get(k)} != model {m[k]}")
    for k in ("bad_open_keys", "bad_order_keys", "empty_closed"):
        if c.get(k):
            problems.append(f"{k} = {c[k]}")
    if c.get("days") != m["days"] or any(s != "LDM" for s in c.get("statuses", [])):
        problems.append(f"log {c.get('days')} {c.get('statuses')} "
                        "does not end LDM every day")
    return problems


def check_queries(result):
    """Names of queries whose result digest differs from the pinned one."""
    import digest
    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f)
    return [name for name, path in result["checks"].items()
            if not os.path.isdir(path) or digest.parquet_digest(path) != pinned.get(name)]


def end_to_end(workload, result, setup_s):
    """The end-to-end metrics of an untraced run."""
    rounds = result["rounds"]
    ops = [o for r in rounds for o in r["ops"]]
    lat = [o["latency_s"] for o in ops]
    if workload == "daily_warehouse":
        tail = ops[-1]["latency_s"]  # the last day: history growth
        rate = sum(o["rows"] for o in ops) / sum(lat)
    else:
        by_query = {}
        for o in ops:
            by_query.setdefault(o["name"], []).append(o["latency_s"])
        tail = max(statistics.median(v) for v in by_query.values())
        rate = len(lat) / sum(lat)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(r["wall_s"] for r in rounds), "s"),
        "throughput_per_s": (rate, "1/s"),
        # the geometric mean, not the median: a query run's 16 latencies
        # cluster by query, and the median fell in the gap between two
        # clusters, jumping with whichever side host noise slowed
        "op_gmean_s": (statistics.geometric_mean(lat), "s"),
        "op_tail_s": (tail, "s"),
        "live_heap_mb": (result["live_heap_mb"], "MiB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no library sources under {LIB_SRC}: run from the repository root")
    if a.workload == "query_mix" and not glob.glob(os.path.join(QUERY_DATA, "*.parquet")):
        fail(f"no query data under {QUERY_DATA}")
    classes = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--work", work]

    t0 = time.perf_counter()
    daily = a.workload == "daily_warehouse"
    if daily:
        plan, model = feed.generate(a.seed, os.path.join(work, "feeds"), DAYS)
        with open(os.path.join(work, "plan.tsv"), "w", encoding="utf-8") as f:
            f.write("\n".join(plan) + "\n")
        args += ["--plan", os.path.join(work, "plan.tsv")]
    else:
        args += ["--data", QUERY_DATA]
    gen_s = time.perf_counter() - t0

    result = run_jvm(classes, work, args + ["--trace", str(a.trace)], deadline)

    problems = (check_warehouse(result["checks"], model) if daily
                else [f"digest mismatch: {q}" for q in check_queries(result)])
    for p in problems:
        log(f"CHECK FAILED: {p}")
    # an op fails when it raised or alerted, or when its output is wrong:
    # every day of the chain when it fails a check, every run of a query
    # whose result does not match the oracle
    ops = [o for r in result["rounds"] for o in r["ops"]]
    bad = ({o["name"] for o in ops} if problems else set()) if daily \
        else {p.split(": ")[1] for p in problems}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    correct = not problems and failed == 0

    if a.trace:
        metrics, detail = layers.per_layer(result)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json")
        with open(path, "w") as f:
            json.dump(dict(detail, workload=a.workload, seed=a.seed,
                           metrics={k: v for k, (v, _) in metrics.items()}),
                      f, indent=1, sort_keys=True)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
        for line in layers.growth_table(detail):
            log(line)
    else:
        # the median session start damps the first, cold start's noise
        metrics = end_to_end(a.workload, result, gen_s + result["warmup_s"]
                             + statistics.median(result["session_s"]))
    out = {"correct": correct, "attempted": len(ops), "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
