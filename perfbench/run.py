#!/usr/bin/env python3
"""One benchmark for the VerA export path and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload vera --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md for why each exists):

  vera      contract_deployments, compiled_contracts and sources, generated
            from the seed into a throwaway Postgres cluster, scanned with
            PgWire (range-partitioned where the table has an integer key, one
            serial COPY stream where it has none), exported with
            Export.exportAll.
  registry  a fixed sample of SparkEntry.queries, one query per cost
            stratum, run in an order drawn from the seed; each query is built
            and run into a noop sink.

The first run in a checkout builds the program and the JVM harness
(perfbench/jvm) with sbt; runs and traces go to .bench_build/. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the span tree is written to
.bench_build/perfbench/traces/<workload>-seed<n>.json (compare two with
perfbench/diff.py).

Other entry points:
  --selftest          seed twice with one seed and once with another; the
                      source fingerprints must agree and differ.
  --baseline          the reference-shaped export (one connection per table,
                      tables one at a time) next to the benchmark's shape.
  --record-expected   rewrite perfbench/expected_registry.json.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import vera_data

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
JVM_DIR = os.path.join(BENCH_DIR, "jvm")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(BENCH_DIR, "expected_registry.json")
# The registry runs on the smallest test-data scale: there a query's time is
# mostly its fixed cost (schema inference, builder probes, job scheduling),
# which is what this workload measures, and a sample fits one run.
SF_DIR = "/root/testdata/sf0.001"
REGISTRY_STRATA = 6
# The JVM runs as the program runs elsewhere (default tiered JIT); -Xmx is
# only a ceiling, so the heap grows as the program needs it.
JVM_FLAGS = ["-Xmx2g", "-XX:+UseG1GC"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ build

def source_stamp():
    """Size and mtime of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(JVM_DIR, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(JVM_DIR, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build the program and the harness if their sources changed; return
    the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            built = json.load(f)
        cp = built["classpath"]
        if built["stamp"] == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building the program and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=JVM_DIR, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, run_dir, args, ncores=None):
    """Run the harness to completion; return its result object."""
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_FLAGS + ["-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(JVM_DIR, 'log4j2.properties')}"]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--out", out, "--cores", str(ncores or cores()),
            "--work-dir", run_dir] + [str(a) for a in args]
    with subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr,
                          stderr=sys.stderr) as p:
        try:
            rc = p.wait()
        except BaseException:
            p.kill()
            p.wait()
            raise
    if rc != 0:
        raise RuntimeError(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- workloads

def run_vera(seed, seconds, trace, cp, run_dir, spec=vera_data.TABLE_SPEC):
    t0 = time.time()
    with vera_data.Cluster(WORK) as pg:
        pg.seed(spec, seed)
        pg.seed(vera_data.warm_spec(spec), seed, vera_data.WARM_SCHEMA)
        pg_s = time.time() - t0
        res = run_jvm(cp, run_dir, [
            "--mode", "vera", "--port", pg.port, "--seconds", seconds,
            "--trace", trace, "--tables", vera_data.table_arg(spec)])
        src = pg.source_stats(spec)
    failures = vera_data.check_export(res["out_dir"], spec, src)
    for f in failures:
        log("check failed:", f)
    rows = sum(s["rows"] for s in src.values())
    src_bytes = sum(s["bytes"] for s in src.values())
    out_bytes = vera_data.manifest_bytes(res["out_dir"])
    walls = res["export_s"]
    log(f"postgres {pg_s:.2f} s, jvm {res['startup_s']:.2f} s, warmup {res['warmup_s']:.2f} s "
        f"({' '.join(f'{w:.2f}' for w in res['warm_calls_s'])}), "
        f"exportAll {' '.join(f'{w:.2f}' for w in walls)} s")
    # the warmup and timed export calls, and three checks per table
    attempted = len(res["warm_calls_s"]) + len(walls) + 3 * len(spec)
    if trace:
        layers = res["layers"]
        fetch, export = layers["pgwire.fetch_s"], res["traced_export_s"]
        layers["pgwire.fetch_mb_per_s"] = src_bytes / 2**20 / fetch if fetch > 0 else 0.0
        layers["export.src_mb_per_s"] = src_bytes / 2**20 / export
        layers["export.out_bytes_per_src_byte"] = out_bytes / src_bytes
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        return failures, attempted, layers, res
    return failures, attempted, {
        "setup_s": pg_s + res["startup_s"] + res["warmup_s"],
        "work_s": min(walls),
        "op_s_p50": statistics.median(walls),
        "items_per_s": rows / min(walls),
    }, res


def registry_sample(seed):
    """The registry sample, in an order drawn from the seed.

    The queries, ordered by their recorded cost, are split into
    REGISTRY_STRATA strata of equal size, and one query is drawn from each
    with a fixed seed, so the sample spans cheap to dear queries. The sample
    itself does not change with --seed: a sample drawn per seed moved the
    sample's total time by 7-17% from seed to seed (IQR / median), more
    than the bound a change may cost."""
    with open(EXPECTED) as f:
        expected = {q["name"]: q for q in json.load(f)["queries"]}
    by_cost = sorted(expected, key=lambda n: (expected[n]["seconds"], n))
    k = REGISTRY_STRATA
    strata = [by_cost[len(by_cost) * i // k:len(by_cost) * (i + 1) // k] for i in range(k)]
    fixed = random.Random(0)
    picked = [fixed.choice(s) for s in strata]
    random.Random(seed).shuffle(picked)
    return picked, expected


def registry_cores():
    """Spark's cores for the registry: half the vCPUs. At this scale the
    sample's time is driver work (planning, scheduling, many small jobs);
    with a task thread on every vCPU the JIT's compiler threads and the GC
    compete with the tasks. Over five seeds run back to back, the time
    metrics spread by 16-18% with `local[4]` and by 10-12% with
    `local[2]`."""
    return max(1, cores() // 2)


def run_registry(seed, seconds, trace, cp, run_dir):
    sample, expected = registry_sample(seed)
    res = run_jvm(cp, run_dir, [
        "--mode", "registry", "--sf-dir", SF_DIR, "--seconds", seconds,
        "--trace", trace, "--queries", ",".join(sample)], ncores=registry_cores())
    failures = []
    for n in sample:
        got, want = res["checks"][n], expected[n]
        if "error" in got:
            failures.append(f"{n}: {got['error']}")
        elif got["rows"] != want["rows"]:
            failures.append(f"{n}: {got['rows']} rows, expected {want['rows']}")
        elif want.get("fp") is not None and got["fp"] != want["fp"]:
            failures.append(f"{n}: content fingerprint {got['fp']} != {want['fp']}")
    passes = res["passes"] + ([res["traced_pass"]] if trace else [])
    runs = [r for p in passes for r in p]
    failed_runs = [r for r in runs if not r["ok"]]
    failures += [f"{r['query']}: {r['error']}" for r in failed_runs]
    for f in failures:
        log("check failed:", f)
    attempted = len(sample) + len(runs)
    log(f"jvm {res['startup_s']:.2f} s, warmup {res['warmup_s']:.2f} s "
        f"({' '.join(f'{w:.2f}' for w in res['warm_calls_s'])}), "
        f"{len(res['passes'])} timed passes of {len(sample)} queries: " + " ".join(
            f"{sum(r.get('build_s', 0) + r.get('action_s', 0) for r in p):.2f}"
            for p in res["passes"]) + " s")
    if trace:
        return failures, attempted, {**res["layers"], "jvm.peak_rss_mb": res["peak_rss_mb"]}, res
    # Per query: the fastest of this run's timed passes, build + action.
    per_query = []
    for n in sample:
        ts = [r["build_s"] + r["action_s"] for p in res["passes"] for r in p
              if r["query"] == n and r["ok"]]
        if ts:
            per_query.append(min(ts))
    total = sum(per_query)
    return failures, attempted, {
        "setup_s": res["startup_s"] + res["warmup_s"],
        "work_s": total,
        "op_s_p50": statistics.median(per_query),
        "items_per_s": len(per_query) / total,
    }, res


def record_expected(cp):
    """Record each query's row count and content fingerprint at two core
    counts; a fingerprint that differs between them depends on partition
    layout and is not checked."""
    run_dir = os.path.join(WORK, "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    common = ["--seconds", 0, "--trace", 0]
    listing = run_jvm(cp, run_dir, ["--mode", "list"] + common)["queries"]
    names = ",".join(q["name"] for q in listing)
    runs = [run_jvm(cp, run_dir, ["--mode", "record", "--sf-dir", SF_DIR,
                                  "--queries", names] + common, ncores=n)
            for n in (cores(), 2)]
    with open(os.path.join(BENCH_DIR, "exempt_registry.json")) as f:
        exempt = json.load(f)
    queries = []
    for q in listing:
        n = q["name"]
        a, b = (r["checks"][n] for r in runs)
        if "error" in a or "error" in b:
            raise SystemExit(f"{n} failed while recording: {a} {b}")
        if a["rows"] != b["rows"]:
            raise SystemExit(f"{n}: row count depends on core count")
        entry = {"name": n, "module": q["module"], "rows": a["rows"]}
        if n in exempt:
            entry["fp"], entry["why"] = None, exempt[n]
        elif a["fp"] != b["fp"]:
            entry["fp"] = None
            entry["why"] = "fingerprint differs between core counts"
        else:
            entry["fp"] = a["fp"]
        t = [r for r in runs[0]["passes"][0] if r["query"] == n][0]
        entry["seconds"] = round(t["build_s"] + t["action_s"], 3)
        queries.append(entry)
    with open(EXPECTED, "w") as f:
        json.dump({"sf_dir": SF_DIR, "queries": queries}, f, indent=1)
        f.write("\n")
    log(f"recorded {len(queries)} queries, "
        f"{sum(q['fp'] is None for q in queries)} without a content check")


def baseline(cp, seconds=20):
    """The reference's shape (main.py:278-280): one connection per table,
    tables one at a time. Export.exportAll already exports tables one at a
    time, so the reference shape is the benchmark's with every scan left
    unpartitioned. Prints one line per shape."""
    for shape in ("reference", "benchmark"):
        spec = vera_data.TABLE_SPEC if shape == "benchmark" else {
            t: (n, None, order) for t, (n, _, order) in vera_data.TABLE_SPEC.items()}
        run_dir = os.path.join(WORK, "runs", f"baseline-{shape}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            failures, _, m, _ = run_vera(1, seconds, 0, cp, run_dir, spec)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"shape": shape, "correct": not failures,
                          **{k: round(v, 4) for k, v in m.items()}}))


# ------------------------------------------------------------------- main

def on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["vera", "registry"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--baseline", action="store_true")
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("run from the repository root: build.sbt and "
                         "src/main/scala/graft are needed to build the program")

    if a.selftest:
        return vera_data.selftest(WORK)
    cp = classpath()
    if a.record_expected:
        return record_expected(cp)
    if a.baseline:
        return baseline(cp)
    if not a.workload:
        ap.error("--workload is required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.workload == "registry":
            failures, attempted, metrics, res = run_registry(
                a.seed, a.seconds, a.trace, cp, run_dir)
        else:
            failures, attempted, metrics, res = run_vera(
                a.seed, a.seconds, a.trace, cp, run_dir)
        if a.trace:
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "metrics": metrics, **res["trace"]}, f)
            tr = res["trace"]
            log(f"trace: {path}; wall {tr['wall_s']:.3f} s, self times sum to "
                f"{tr['self_sum_s']:.3f} s; tracing overhead "
                f"{100 * metrics['trace.overhead_frac']:.1f}%")
        # Every metric BENCHMARK.json lists for this kind of run; a layer
        # the workload does not pass through reads 0.
        declared = spec["per_layer" if a.trace else "end_to_end"]
        metrics = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in declared}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failures), attempted), "metrics": metrics}))


if __name__ == "__main__":
    main()
