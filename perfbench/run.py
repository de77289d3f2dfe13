"""Benchmark entry point.

    python3 perfbench/run.py --workload <initial_sync|live_mixed|catalog_full> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one workload in a single JVM and prints, as its last stdout line, one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json. With --trace 1 they
are the per-layer ones, and the spans go to
.bench_out/spans-<workload>-<seed>.jsonl. Every run reports the wall of the
workload's repeated unit of work (a drain, a micro-batch, a catalog pass);
untraced runs record it in .bench_out/unit-wall-<workload>-<build>.jsonl, and
`trace.overhead_frac` is a traced run's unit wall over the median recorded
one, minus 1 (a traced run with no record first runs untraced itself). catalog_full first
generates its tables (perfbench/tables.py) and afterwards checks every
result against the DuckDB oracle (perfbench/oracle.py). Exits non-zero when
the build fails, the run fails or its outputs are wrong.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("initial_sync", "live_mixed", "catalog_full")
# A run, both JVMs of a traced run included, ends within this.
RUN_TIMEOUT_S = 170
# Scale of the catalog's tables (TPC-H scaling: 0.1 = 600k lineitem rows).
CATALOG_SCALE = 0.01

# Spark 4 on JDK 17 needs these module openings outside spark-submit (the
# same list the engine's build.sbt passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """A quarter of physical memory, clamped to 2..6 GB: the corpus and the
    stub's copy of it need ~1 GB, and the box is shared."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(6, int(line.split()[1]) // (4 << 20)))
    except OSError:
        pass
    return 2


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def make_tables(tables, seed):
    """catalog_full's tables, then the _READY file the JVM waits for."""
    import tables as gen  # noqa: E402
    gen.generate(tables, CATALOG_SCALE, seed)
    open(os.path.join(tables, "_READY"), "w").close()


def jvm(a, trace, work, deadline, extra, meanwhile=None):
    """One JVM run of the workload: (result, unit wall ms, exit code).
    `meanwhile` runs while the JVM starts."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xss4m", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.codegen.cache.maxEntries=4000",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(ROOT), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--cores", str(nproc), "--work", work,
            "--out", os.path.join(ROOT, ".bench_out")] + extra
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        if meanwhile:
            meanwhile()
        stdout, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if not lines:
        sys.exit(f"run: no result (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"run: malformed result line: {lines[-1]}")
    wall = next((float(l.split()[1]) for l in lines if l.startswith("unit_wall_ms ")), 0.0)
    return result, wall, proc.returncode


def wall_log(workload):
    """Per workload and per build: the stamp names the sources it ran."""
    with open(os.path.join(build.build_dir(ROOT), "stamp")) as f:
        stamp = f.read().strip()[:16]
    return os.path.join(ROOT, ".bench_out", f"unit-wall-{workload}-{stamp}.jsonl")


def untraced_walls(workload):
    """Unit walls recorded by earlier untraced runs in this checkout."""
    try:
        with open(wall_log(workload)) as f:
            return [json.loads(l)["unit_wall_ms"] for l in f if l.strip()]
    except (OSError, ValueError, KeyError):
        return []


def run(a, work, deadline):
    extra = []
    tables = os.path.join(work, "tables")
    if a.workload == "catalog_full":
        extra = ["--tables", tables]
    # A traced run is compared with the untraced runs of this checkout; when
    # there are none yet it makes its own, with the same seed, first.
    modes = [1] if a.trace and untraced_walls(a.workload) else [0, 1] if a.trace else [0]
    runs = []
    for t in modes:
        w = os.path.join(work, f"trace{t}")
        # the tables are made while the first JVM starts
        prep = (lambda: make_tables(tables, a.seed)) if extra and t == modes[0] else None
        result, wall, rc = jvm(a, t, w, deadline, extra, prep)
        if a.workload == "catalog_full":
            import oracle  # noqa: E402
            n, fails = oracle.check(tables, os.path.join(w, "verify"))
            for f in fails:
                print(f"[perfbench] FAILED oracle: {f}", file=sys.stderr)
            result["attempted"] += n
            result["failed"] += len(fails)
            result["correct"] = result["correct"] and not fails
        ok = result["correct"] and rc == 0
        if t == 0 and ok and wall > 0:
            with open(wall_log(a.workload), "a") as f:
                f.write(json.dumps({"seed": a.seed, "unit_wall_ms": wall}) + "\n")
        runs.append((result, wall, ok))
    result = runs[-1][0]
    result["correct"] = all(r[2] for r in runs)
    result["attempted"] = sum(r[0]["attempted"] for r in runs)
    result["failed"] = sum(r[0]["failed"] for r in runs)
    e2e, layers = spec()
    got = result["metrics"]
    if a.trace:
        plain, traced = statistics.median(untraced_walls(a.workload) or [0.0]), runs[-1][1]
        got["trace.unit_wall_ms"] = {"value": traced, "unit": "ms"}
        got["trace.overhead_frac"] = {
            "value": traced / plain - 1.0 if plain > 0 else 0.0, "unit": "ratio"}
        want = layers
    else:
        want = e2e
    unknown = sorted(set(got) - set(want))
    if unknown:
        sys.exit(f"run: metrics not in BENCHMARK.json: {unknown}")
    if result["correct"] and not a.trace and set(got) != set(want):
        sys.exit(f"run: end-to-end metrics missing: {sorted(set(want) - set(got))}")
    # a workload reports 0 for a layer it does not exercise (and a failed
    # run for what it did not get to)
    result["metrics"] = {k: got.get(k, {"value": 0.0, "unit": u}) for k, u in want.items()}
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build(ROOT)

    work = os.path.join(ROOT, ".bench_out", f"run-{os.getpid()}")
    try:
        result = run(a, work, time.time() + RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("run: timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
