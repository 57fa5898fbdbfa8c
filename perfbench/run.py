#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one
workload in fresh JVMs, checks its outputs and prints one JSON result.

    python3 perfbench/run.py --workload ml100k-enriched --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --selftest

Run it from the repository root. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Labels (host and dispatch context) go to the line before
it and to .bench_work/<workload>/labels.json, next to the harness's
result files. See perfbench/README.md for the workloads and the layer
map.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORK_DIR = os.path.join(ROOT, ".bench_work")
RUN_BUDGET_S = 170  # all JVMs of one run, after the build
SETUP_REPS = 3
BUILD_TIMEOUT_S = 800

# The JDK 17 module opens Spark needs outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_expected():
    with open(os.path.join(BENCH_DIR, "expected.json")) as f:
        return json.load(f)


# ---- build -----------------------------------------------------------------

def spark_jars():
    """The jar directory the sbt build compiles against (build.sbt's
    unmanagedBase), or $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME or build.sbt's unmanagedBase")


def sources():
    """The program's main sources, the seeded ml-100k fixture generator
    and the benchmark's own harness."""
    main = os.path.join(ROOT, "src", "main", "scala")
    fixture = os.path.join(ROOT, "src", "test", "scala", "graft", "MlFixture.scala")
    if not os.path.isdir(main) or not os.path.isfile(fixture):
        fail("no program sources here (src/main/scala, MlFixture.scala); "
             "run from the repository root")
    out = [fixture]
    for base in (main, os.path.join(BENCH_DIR, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile with the Scala compiler that ships in the Spark jars, once
    per source state."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


def heap_mb():
    """A quarter of the machine's memory, clamped to 2-6 GB; the heap is
    committed at start (-Xms = -Xmx) so its growth does not vary by run."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return 4096
    return max(2048, min(6144, total_kb // 4096))


# ---- one run ---------------------------------------------------------------

def run_jvm(classes, jars, mode, workload, seed, n, deadline):
    """One harness JVM (see Harness.scala for the modes), killed at
    `deadline`; returns its result. `setup` starts from an empty work
    directory; the other modes read the inputs it left there."""
    work = os.path.join(WORK_DIR, workload)
    if mode == "setup":
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"{mode}.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            f"-Dperfbench.configs={os.path.join(BENCH_DIR, 'configs')}",
            "-cp", f"{classes}:{os.path.join(jars, '*')}",
            "graft.perfbench.Harness", mode, workload, str(seed), work, str(n), out]
    # Spark would take its scratch from these over spark.local.dir
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    log = os.path.join(work, f"{mode}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload}: {mode} ran past the {RUN_BUDGET_S} s budget (log: {log})", 1)
    if code != 0 or not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: harness {mode} exited {code} (log: {log})", 1)
    with open(out) as f:
        return json.load(f)


# ---- checks ----------------------------------------------------------------

def recorded_values(workload, seed, expected, cpus):
    """The deterministic model's MAP@5 and nDCG@5 recorded for this seed,
    and a label saying whether the exact-value check can run."""
    exp = expected[workload]
    if not exp["deterministic"]:
        return None, "not applicable (model is not deterministic)"
    if cpus != expected["cpus"]:
        return None, f"skipped: nproc {cpus} != recorded {expected['cpus']}"
    value = exp["recorded"].get(str(seed))
    if value is None:
        return None, f"skipped: no value recorded for seed {seed}"
    return value, "ran"


def check_experiment(workload, results, expected, recorded):
    """Every repetition reports the workload's model with all its folds
    and MAP@5 inside the recorded sanity range; a deterministic model
    equals `recorded` when there is one, and its traced run equals its
    untraced one. Returns (attempted, failed, problems)."""
    exp = expected[workload]
    model, folds = exp["model"], exp["folds"]
    lo, hi = exp["map_at_5_range"]
    attempted = failed = 0
    problems = []
    seen = []
    for res in results:
        for i, rep in enumerate(res["reps"]):
            attempted += folds
            m = rep["models"].get(model)
            bad = None
            if m is None or m["folds"] != folds or m["map_at_5"] is None:
                bad = "missing from the report"
            elif not lo <= m["map_at_5"] <= hi:
                bad = f"MAP@5 {m['map_at_5']} outside [{lo}, {hi}]"
            elif exp["deterministic"]:
                got = {"map_at_5": m["map_at_5"], "ndcg_at_5": m["ndcg_at_5"]}
                if recorded and got != recorded:
                    bad = f"{got} != recorded {recorded}"
                elif seen and got != seen[0]:
                    bad = f"{got} != {seen[0]} of the {results[0]['mode']} run"
                seen.append(got)
            if bad:
                failed += folds
                problems.append(f"{res['mode']} repetition {i + 1}: {model} {bad}")
    return attempted, failed, problems


# ---- metrics ---------------------------------------------------------------

LAYERS = ["schema", "prep", "split", "walk", "kge", "knn", "eval"]
LAYER_COUNTERS = ["self_s", "cpu_s", "task_cpu_s", "gc_s", "jit_s", "codegen_compiles",
                  "shuffle_bytes", "spill_bytes", "tasks", "cached_mb_start"]


def end_to_end(setup, result, model):
    reps = result["reps"]
    return {
        "setup_s": setup["session_ready_s"] + statistics.median(setup["gen_s"]),
        "run_s": statistics.median([r["run_s"] for r in reps]),
        "cpu_s": statistics.median([r["cpu_s"] for r in reps]),
        "fold_s": statistics.median([r["models"][model]["fold_s"] for r in reps]),
    }


def per_layer(untraced, traced):
    """Per layer: its spans' self time and counters summed (cached MB:
    the largest at any span's start), plus work counts, the remainder no
    span covers, and the tracing overhead against the untraced run."""
    rep = traced["reps"][0]
    spans = rep["spans"]
    m = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        for c in LAYER_COUNTERS:
            vals = [s[c] for s in mine]
            m[f"{layer}.{c}"] = max(vals, default=0.0) if c == "cached_mb_start" else sum(vals)
    counts = rep["counts"]
    for key in ("schema.rows", "prep.kept_ratio", "walk.tokens", "kge.triples",
                "knn.pairs_scored", "eval.users"):
        m[key] = counts.get(key, 0.0)
    slots = counts.get("knn.slots", 0.0)
    m["knn.kept_ratio"] = counts.get("knn.emitted", 0.0) / slots if slots else 0.0
    m["unattributed_s"] = rep["run_s"] - sum(s["self_s"] for s in spans)
    m["trace_overhead_s"] = rep["run_s"] - untraced["reps"][0]["run_s"]
    return m


def calib_s():
    """Seconds for a fixed single-thread hashing loop (median of three),
    measured on every run: the host-speed anchor the run is read
    against."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"perfbench"
        for _ in range(300000):
            h = hashlib.sha256(h).digest()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


# ---- main ------------------------------------------------------------------

def bench(workload, seed, seconds, trace):
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if workload not in names:
        fail(f"unknown workload {workload}; choose from {names}")
    expected = load_expected()
    model = expected[workload]["model"]
    classes, jars = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    # inputs in their own JVM: the timed JVMs start no Spark job before
    # their experiment. Set-up is timed three times only where it is
    # reported.
    setup = run_jvm(classes, jars, "setup", workload, seed, 1 if trace else SETUP_REPS, deadline)
    results = [run_jvm(classes, jars, "run", workload, seed, seconds, deadline)]
    if trace:
        results.append(run_jvm(classes, jars, "traced", workload, seed, seconds, deadline))
    cpus = results[0]["cpus"]
    recorded, recorded_check = recorded_values(workload, seed, expected, cpus)
    attempted, failed, problems = check_experiment(workload, results, expected, recorded)
    quality = results[0]["reps"][0]["models"].get(model, {})
    lab = {"nproc": cpus, "heap_mb": results[0]["heap_mb"], "calib_s": calib_s(),
           "model": model, "reps": len(results[0]["reps"]),
           "peak_rss_mb": results[0]["peak_rss_mb"],
           "map_at_5": quality.get("map_at_5"), "ndcg_at_5": quality.get("ndcg_at_5"),
           "recorded_check": recorded_check}
    if trace:
        lab.update(results[1]["reps"][0]["labels"])
        metrics, key = per_layer(results[0], results[1]), "per_layer"
    else:
        metrics, key = end_to_end(setup, results[0], model), "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        problems.append(f"metrics not produced: {missing}")
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    with open(os.path.join(WORK_DIR, workload, "labels.json"), "w") as f:
        json.dump(lab, f, indent=1, sort_keys=True)
    print("labels " + json.dumps(lab, sort_keys=True))
    out = {"correct": not problems, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics}}
    print(json.dumps(out), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check input determinism and the output's metric names and units")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found; run from the repository root")
    if a.selftest:
        import selftest
        selftest.main(sys.modules[__name__])
    elif a.workload:
        bench(a.workload, a.seed, a.seconds, a.trace)
    else:
        ap.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
