"""Self-test of the benchmark itself (python3 perfbench/run.py --selftest):

1. one seed yields byte-identical inputs twice, another seed different
   ones, for every workload;
2. a short run of each workload, untraced and traced, prints a result
   line that names every metric of BENCHMARK.json with its unit.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys


def input_digest(d):
    """Content digest per input table; Spark's part-file names carry a
    random id, so files are keyed by their directory and content."""
    out = {}
    for table in sorted(os.listdir(d)):
        parts = []
        for root, _, files in os.walk(os.path.join(d, table)):
            for f in files:
                if f.startswith(("part-", "part_")):
                    with open(os.path.join(root, f), "rb") as fh:
                        parts.append(hashlib.sha256(fh.read()).hexdigest())
        out[table] = sorted(parts)
    return out


def main(run):
    spec = run.load_spec()
    classes, jars = run.build()
    workloads = [w["name"] for w in spec["workloads"]]
    gen_dir = os.path.join(run.WORK_DIR, "selftest-gen")
    shutil.rmtree(gen_dir, ignore_errors=True)
    os.makedirs(gen_dir)
    args = []
    for w in workloads:
        args += [w, "7", w, "7", w, "8"]
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{run.heap_mb()}m", f"-Djava.io.tmpdir={gen_dir}",
        f"-Dlog4j2.configurationFile={os.path.join(run.BENCH_DIR, 'log4j2.properties')}",
        "-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.perfbench.Harness", "gen",
        gen_dir] + args
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    ok = True
    for i, w in enumerate(workloads):
        a, b, c = (input_digest(os.path.join(gen_dir, f"{3 * i + j}-{w}-{s}"))
                   for j, s in enumerate(("7", "7", "8")))
        same, differs = a == b, a != c
        print(f"{w}: same seed identical={same}, other seed differs={differs}")
        ok &= same and differs and bool(a)
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run([sys.executable, os.path.join(run.BENCH_DIR, "run.py"),
                                "--workload", w, "--seed", "7", "--seconds", "1",
                                "--trace", str(trace)],
                               stdout=subprocess.PIPE, text=True, cwd=run.ROOT)
            last = json.loads(r.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            good = (r.returncode == 0 and last["correct"] and got == want and
                    set(last) == {"correct", "attempted", "failed", "metrics"})
            print(f"{w} trace={trace}: exit {r.returncode}, correct={last['correct']}, "
                  f"{len(got)}/{len(want)} metrics with units: {'ok' if good else 'FAIL'}")
            ok &= good
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)
