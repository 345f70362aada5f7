"""Live end-to-end MAS benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds graft and the harness
from source (perfbench/build.py), generates the workload's input from the
seed (perfbench/workloads.py), runs the full pipeline through
`Pipeline.run` in fresh JVMs (perfbench/harness), checks every written
result row against an independent fit (perfbench/check.py) and prints one
JSON object as its last line:

  --trace 0: setup_s, cold_s, wall_s, cpu_s, alloc_mb
  --trace 1: the per-layer metrics, also written to perfbench/trace/<workload>.json

An operation is one result row of one rep; `attempted` and `failed` count
them. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import workloads  # noqa: E402

HEAP = "3g"         # fixed JVM heap (-Xms = -Xmx): no heap growth across reps
CODEGEN_CACHE = 1000  # generated classes kept; Spark's default (100) recompiles in every warm rep
DEADLINE_S = 170    # the whole run ends within this many seconds after the build

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def inputs(name, seed):
    """Generated input and expected results, cached per (workload, seed) and
    version of the generator and checker."""
    h = hashlib.sha256()
    for m in (workloads, check):
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    d = os.path.join(build.BUILD, "inputs", f"{name}-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, "expected.pkl")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        meta = workloads.generate(ROOT, name, seed, d)
        exp = check.expected(meta)
        with open(done + ".tmp", "wb") as f:
            pickle.dump((meta, exp, dict(exp.attrs)), f)
        os.rename(done + ".tmp", done)
    with open(done, "rb") as f:
        meta, exp, attrs = pickle.load(f)
    exp.attrs.update(attrs)
    return meta, exp


def host_ticks():
    """Busy and stolen CPU ticks of the whole machine (Linux /proc/stat),
    as the harness reads them, or (0, 0)."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return 0, 0
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def jvm(classes, mode, run_dir, seconds, seed, timeout):
    """Launch one harness JVM; return its PERFBENCH events."""
    jars = build.spark_jars()
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'tmp')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Harness", "--mode", mode, "--job", os.path.join(run_dir, "job.properties"),
           "--out", os.path.join(run_dir, "out"), "--seconds", str(seconds), "--seed", str(seed),
           "--host0", "%d,%d" % host_ticks(), "--t0-ns", str(time.time_ns())]
    with open(os.path.join(run_dir, f"{mode}.log"), "ab") as log:
        # the run writes inside the checkout only, and no host setting
        # steers graft: drop SPARK_LOCAL_DIRS and graft's debug switches
        env = {k: v for k, v in os.environ.items()
               if k != "SPARK_LOCAL_DIRS" and not k.startswith("GRAFT_")}
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, env=env)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    events = [json.loads(line[len("PERFBENCH "):]) for line in stdout.decode().splitlines()
              if line.startswith("PERFBENCH ")]
    if proc.returncode != 0:
        raise SystemExit(f"harness JVM ({mode}) exited with {proc.returncode}; see {run_dir}/{mode}.log")
    return events


def check_reps(events, run_dir, meta, exp, catalog):
    """Check every rep's written output; returns attempted, failed, known,
    unexpected problems."""
    grid = len(exp)
    attempted = failed = known = 0
    problems = {}
    ext = meta["config"]["outputType"]
    for e in events:
        if e.get("event") != "rep":
            continue
        attempted += grid
        if "error" in e:
            failed += grid
            problems[f"rep {e['tag']} threw"] = e["error"][:300]
            continue
        path = os.path.join(run_dir, "out", f"{e['tag']}_polars_mas_results.{ext}")
        f, k, pr = check.compare(check.read_output(path), exp, meta, catalog)
        failed += f
        known += k
        for key, v in pr.items():
            if not key.startswith("known:"):
                problems[key] = problems.get(key, 0) + v
    return attempted, failed, known, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build(quiet=True)
    t_start = time.time()
    meta, exp = inputs(a.workload, a.seed)
    catalog = check.load_catalog(ROOT)
    st = check.self_test(exp, meta, catalog)
    if st:
        raise SystemExit(f"checker self-test failed: {st}")

    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "job.properties"), "w") as f:
        for k, v in dict(meta["config"], warmupReps=meta["warmup_reps"],
                              timedReps=meta["timed_reps"]).items():
            f.write(f"{k}={v}\n")

    def left():
        return max(30.0, DEADLINE_S - (time.time() - t_start))

    # a run that stops early keeps its directory (JVM logs, outputs)
    events = jvm(classes, "run" if a.trace == 0 else "trace", run_dir, a.seconds, a.seed, left())
    attempted, failed, known, problems = check_reps(events, run_dir, meta, exp, catalog)
    shutil.rmtree(run_dir, ignore_errors=True)

    stats = check.statistics_check(exp, meta)
    correct = failed == known and not problems and not stats
    for msg in ([f"{k}: {v}" for k, v in problems.items()] + stats):
        print(f"CHECK {a.workload}: {msg}", file=sys.stderr)

    reps = [e for e in events if e.get("event") == "rep" and "error" not in e]
    if a.trace == 0:
        setup = [e["setup_s"] for e in events if e["event"] == "setup"]
        for e in events:
            if e["event"] == "setup":
                print(f"setup: {e['setup_s']:.3f} s (raw {e['setup_raw_s']:.3f} s, "
                      f"steal {100 * e['steal']:.1f}%)")
        cold = [e for e in reps if e["tag"] == "cold"]
        warm = [e for e in reps if e["tag"].startswith("timed")]
        if not cold or not warm:
            raise SystemExit("no successful cold or warm rep to report a time for")
        for e in reps:
            print(f"rep {e['tag']}: wall {e['wall_s']:.3f} s (raw {e['wall_raw_s']:.3f} s, "
                  f"steal {100 * e['steal']:.1f}%), cpu {e['cpu_s']:.3f} s, "
                  f"alloc {e['alloc_mb']:.1f} MB, jit {e['jit_s']:.3f} s, gc {e['gc_s']:.3f} s, "
                  f"codegen compiles {e['codegen_compiles']}")
        med = statistics.median
        metrics = {
            "setup_s": (setup[0], "s"),
            "cold_s": (cold[0]["wall_s"], "s"),
            "wall_s": (med(e["wall_s"] for e in warm), "s"),
            "cpu_s": (med(e["cpu_s"] for e in warm), "s"),
            "alloc_mb": (med(e["alloc_mb"] for e in warm), "MB"),
        }
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        tr = [e for e in events if e.get("event") == "trace"]
        if not tr:
            raise SystemExit("the traced run reported no metrics")
        layer = tr[0]["metrics"]
        os.makedirs(os.path.join(HERE, "trace"), exist_ok=True)
        with open(os.path.join(HERE, "trace", f"{a.workload}.json"), "w") as f:
            json.dump(dict(workload=a.workload, seed=a.seed, seconds=a.seconds,
                           attempted=attempted, failed=failed, metrics=layer), f, indent=1, sort_keys=True)
        metrics = {m["name"]: (layer[m["name"]], m["unit"]) for m in per_layer}
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
