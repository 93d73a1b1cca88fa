#!/usr/bin/env python3
"""Product-path benchmark for the graft profiler.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the profiler and the
harness with sbt (from source); later runs reuse the build. The last line
of standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer ones).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

HARNESS_LIMIT_S = 150  # a run ends within 180 s (checks included); the first adds a build
BUILD_LIMIT_S = 840

# The battery's keys: the exact-quantile paths (ExactQuantiles, and
# RobustStats on top of it) and the unchunked substring kernel.
BATTERY_KEYS = ["quantiles_exact", "mad_outliers", "self_repeat"]

# catalog_wide's size: eight small tables (see gen.py)
WIDE = dict(tables=8, min_rows=1000, max_rows=20000, min_cols=4, max_cols=24,
            text_tables=3, repeats=2)
WIDE_WARM = dict(tables=2, min_rows=200, max_rows=400, min_cols=10, max_cols=10,
                 text_tables=1, repeats=0)

WORKLOADS = {
    # Runner.run over a generated catalog of small tables, README invocation
    "catalog_wide": dict(kind="catalog", runner="--compExp true --noOfBins 30"),
    # heavy declared query keys on the sf0.01 test catalog, in a seeded
    # order where each key runs once after each other key (battery_order)
    "query_battery": dict(kind="battery", data="0.01", warm="0.001"),
}

# Per-layer metrics of the traced run (layer names: see src/perfbench/Trace.scala).
PER_LAYER = (
    ["scan." + m for m in ("jobs", "tasks", "job_ms", "cpu_ms", "shuffle_write_bytes",
                           "spill_bytes", "max_task_ms", "gc_ms")]
    + ["freq." + m for m in ("jobs", "job_ms", "cpu_ms", "shuffle_write_bytes")]
    + ["sinks." + m for m in ("jobs", "job_ms", "bytes_written", "files_written")]
    + ["catalog.load_ms", "catalog.jobs", "runner.driver_only_ms", "runner.job_overlap"]
    + [l + "." + m for l in ("quantiles", "operators")
       for m in ("jobs", "job_ms", "cpu_ms", "shuffle_write_bytes", "max_task_ms")]
    + ["op.%s.%s" % (k, m) for k in BATTERY_KEYS
       for m in ("ms", "jobs", "shuffle_write_bytes", "max_task_ms")]
    + ["spark.unattributed_job_ms", "trace.overhead_ratio"])

# per-layer metric name suffix -> unit
UNITS = [(".jobs", "count"), (".tasks", "count"), ("_ms", "ms"), (".ms", "ms"),
         ("_bytes", "bytes"), (".bytes_written", "bytes"), (".files_written", "count"),
         (".job_overlap", "ratio"), (".overhead_ratio", "ratio")]

E2E = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"), ("query_s_p50", "s"),
       ("query_s_p95", "s"), ("peak_rss_mb", "MB"), ("ok_ratio", "ratio")]


def battery_order(seed):
    """One battery pass: each key runs twice, once right after each of the
    other two (x y z x z y, then x again in the next pass). A key is slower
    after some keys than after others (quantiles_exact takes about twice as
    long after self_repeat as after mad_outliers), so a plain shuffle would give
    every seed a different cost. The seed picks which key is x, y and z."""
    x, y, z = random.Random(seed).sample(BATTERY_KEYS, 3)
    return [x, y, z, x, z, y]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def testdata_dirs():
    """The shared read-only test catalogs by scale factor, as the
    repository's TESTDATA.md lists them."""
    listed = {}
    doc = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(doc):
        for line in open(doc):
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 3 and cells[2].startswith("/"):
                listed[cells[1]] = cells[2].rstrip("/")
    for sf in ("0.001", "0.01"):
        d = listed.get(sf)
        if not d or not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            fail("test catalog sf%s not found (see TESTDATA.md): %s" % (sf, d))
    return listed


def sources():
    """Files whose change requires a rebuild."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile the profiler and the harness (once per source state) and
    return the runtime classpath."""
    stamp = os.path.join(WORK, "build", "classpath.txt")
    if os.path.exists(stamp):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(p) <= built for p in sources()):
            return open(stamp).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S,
                stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log)
    lines = [l.strip() for l in open(log) if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail("build failed; see " + log)
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_harness(classpath, run_dir, harness_args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # a fixed, pre-touched heap: peak RSS then does not follow GC heap-sizing
    # choices or how much of the heap a run happened to touch
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Dspark.callstack.depth=200",
            "-cp", classpath, "perfbench.Harness"] + harness_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("harness exceeded its time limit; see " + log)
    if proc.returncode != 0:
        tail = open(log).read()[-3000:]
        fail("harness failed (exit %d); see %s\n%s" % (proc.returncode, log, tail))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft source tree at " + ROOT)
    sf = testdata_dirs()
    w = WORKLOADS[a.workload]
    n = cpus()

    t_build = time.time()
    classpath = build()
    deadline = t_start + (time.time() - t_build) + HARNESS_LIMIT_S

    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(n), "--work", run_dir,
            "--result", os.path.join(run_dir, "result.json")]
    if a.workload == "catalog_wide":
        data = os.path.join(gen.generate(os.path.join(WORK, "data"), a.seed, **WIDE), "catalog")
        warm = os.path.join(gen.generate(os.path.join(WORK, "data"), 0, **WIDE_WARM), "catalog")
    else:
        data, warm = sf[w["data"]], sf[w["warm"]]
    args += ["--keys", ",".join(battery_order(a.seed))]
    if w["kind"] == "catalog":
        args += ["--workload", "catalog", "--data", data, "--warm", warm,
                 "--runner", "%s --tableParallelism %d" % (w["runner"], n)]
    else:
        args += ["--workload", "battery", "--data", data, "--warm", warm]

    t_harness = time.time()
    run_harness(classpath, run_dir, args, deadline)
    t_checks = time.time()
    res = json.load(open(os.path.join(run_dir, "result.json")))

    # output checks, outside the timed region
    if res["kind"] == "catalog":
        attempted, problems = checks.catalog(res, data)
    else:
        attempted, problems = checks.battery(res, data, os.path.join(WORK, "oracle"))
    for p in problems[:20]:
        print("check failed: " + p, file=sys.stderr)
    print("perfbench: inputs %.1f s, harness %.1f s, checks %.1f s"
          % (t_harness - t_start, t_checks - t_harness, time.time() - t_checks), file=sys.stderr)
    failed = len(problems)

    if a.trace:
        metrics = {k: {"value": res["per_layer"][k],
                       "unit": next(u for suffix, u in UNITS if k.endswith(suffix))}
                   for k in PER_LAYER}
    else:
        wall = statistics.median(res["unit_s"])
        # one latency sample per run of an item (a table, or a key) in a unit
        items = [s for u in res["units"] for v in u["item_s"].values()
                 for s in (v if isinstance(v, list) else [v])]
        values = {
            "setup_s": res["setup_s"],
            "wall_s": wall,
            "rows_per_s": res["input_rows"] / wall,
            "query_s_p50": statistics.median(items),
            "query_s_p95": statistics.quantiles(items, n=20, method="inclusive")[18],
            "peak_rss_mb": res["peak_rss_mb"],
            "ok_ratio": max(0, attempted - failed) / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
