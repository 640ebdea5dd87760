#!/usr/bin/env python3
"""Benchmark of the graft engine over the sf fixtures.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sql_bi --seed 1 --seconds 8 --trace 0

The first run builds the engine and the harness with sbt (offline) into
the checkout; later runs reuse the build while the sources are unchanged.
One run measures one workload in two fresh JVMs, one after the other. Each
sets up a session and times one cold pass; the first then runs one pass
that saves every query's result (the warm-up) and steady passes for
`--seconds`. Then the run checks every query's output against computations
made apart from the engine (check.py) and prints one JSON line.

`--trace 0` prints the end-to-end metrics, measured with no listener
attached. `--trace 1` runs with the harness's listeners on and prints the
per-layer metrics; it also writes the spans and the per-pass, per-query
layer figures to .bench_build/perfbench/results/. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.environ.get("PERFBENCH_DATA",
                      os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
CORES = min(2, os.cpu_count() or 1)  # task slots; see README.md
JVMS = 2               # fresh JVMs per run, each a set-up and a cold pass;
                       # setup_s and first_pass_s are medians over them
MIN_STEADY = 3         # steady passes at least, however short --seconds is
HEAP = "2g"            # fixed, so peak_rss_mb compares across runs
DEADLINE_S = 170       # a run that is not done by then is stopped and fails
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness once per source state; returns the
    runtime classpath."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "stamp")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = " ".join(
            ["-Dsbt.offline=true", "-Xmx2g"] +
            ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
             if os.path.exists(repos) else []))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and " " not in l]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cps[-1]


def java(classpath, args, log):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Harness"] +
           [str(a) for a in args])
    # Spark's local shuffle and spill directories stay in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    return subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                            stdin=subprocess.DEVNULL, text=True)


def launch(classpath, args, log):
    """Starts a harness JVM; returns it and its set-up time, from process
    start to the session being ready."""
    t0 = time.time()
    p = java(classpath, args, log)
    for line in p.stdout:
        if line.startswith("PERFBENCH_READY"):
            return p, int(line.split()[1]) / 1000.0 - t0
    p.wait()
    fail("a harness JVM ended before its session was ready")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of an engine checkout")
    if not os.path.exists(os.path.join(DATA, "orders.parquet")):
        fail(f"fixtures not found in {DATA} (set PERFBENCH_DATA)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    started = time.time()  # a build, when there is one, has its own limit

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    outputs = os.path.join(WORK, "outputs", a.workload)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(outputs, ignore_errors=True)
    common = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
              "--min-steady", MIN_STEADY, "--outputs", outputs, "--cores", CORES,
              "--work", WORK, "--data", DATA]
    setups, runs = [], []
    with open(os.path.join(WORK, f"{tag}.log"), "w") as log:
        for i in range(JVMS):
            result_file = os.path.join(WORK, f"{tag}.jvm{i}.json")
            # Only the first JVM runs past its cold pass, and only it is
            # traced. The others come after it, so that the cold passes of
            # one run lie some 40 s apart and meet different host load.
            p, s = launch(classpath, ["--mode", "cold" if i else "run",
                                      "--trace", 0 if i else a.trace,
                                      "--result", result_file] + common, log)
            setups.append(s)
            try:
                p.communicate(timeout=max(1.0, DEADLINE_S - 10 - (time.time() - started)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                fail(f"the run passed {DEADLINE_S} s and was stopped")
            if p.returncode != 0:
                fail(f"the harness exited with {p.returncode}, see {log.name}")
            with open(result_file) as f:
                runs.append(json.load(f))

    r = runs[0]
    colds = [x["passes"][0] for x in runs]
    queries = r["queries"]
    verdicts = check.check(DATA, outputs, queries, r["oracle"])
    for q, why in r["failures"].items():
        verdicts[q] = f"threw: {why}"
    bad = sorted(q for q, v in verdicts.items() if v)
    for q in bad:
        print(f"[perfbench] {q} FAILED: {verdicts[q]}", file=sys.stderr)

    passes = r["passes"]
    cold = passes[0]  # the traced JVM's own, for the per-layer cold figures
    steady = [p for p in passes if p["kind"] == "steady"]
    med = statistics.median
    if a.trace == 0:
        metrics = {
            "setup_s": (med(setups), "s"),
            "first_pass_s": (med(c["pass_s"] for c in colds), "s"),
            "pass_s": (med(p["pass_s"] for p in steady), "s"),
            "query_geomean_s": (geomean([med(p["queries"][q] for p in steady
                                             if q in p["queries"])
                                         for q in queries if q not in r["failures"]]), "s"),
            "cpu_s": (med(p["cpu_s"] for p in steady), "s"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        }
    else:
        metrics = layer_metrics(r, cold, steady)
    dump = dict(workload=a.workload, seed=a.seed, trace=a.trace, data=DATA, cores=CORES,
                setups_s=setups, cold_passes_s=[c["pass_s"] for c in colds],
                verdicts=verdicts,
                **{k: r[k] for k in ("passes", "session_build_s", "peak_rss_mb",
                                     "host_start", "host_end", "spans")})
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(dump, f)
    print(f"[perfbench] host load1 {r['host_start']['load1']} -> {r['host_end']['load1']}, "
          f"steal {steal_share(r):.4f} of CPU time during the run", file=sys.stderr)
    print(json.dumps({
        "correct": True,
        "attempted": len(steady) * len(queries),
        "failed": len(steady) * len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def steal_share(r):
    s, e = r["host_start"], r["host_end"]
    total = e["total_ticks"] - s["total_ticks"]
    return (e["steal_ticks"] - s["steal_ticks"]) / total if total > 0 else 0.0


LAYER_SUMS = ["operators.construct_s", "operators.construct_jobs", "plans.analysis_s",
              "plans.optimization_s", "plans.planning_s", "plans.graft_rules_s",
              "codegen.compiles", "codegen.compile_s", "exec.action_s", "exec.jobs",
              "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
              "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
              "exec.task_retries", "sources.input_bytes", "sources.input_rows",
              "sources.output_bytes", "sources.output_rows"]


def unit(name):
    for suffix, u in (("_s", "s"), ("_bytes", "bytes"), ("_rows", "rows")):
        if name.endswith(suffix):
            return u
    return "count"


def pass_layers(p, cores):
    """Per-layer figures of one pass: sums over its queries, plus the
    pass-wide JVM figures."""
    per_q = p["layer_q"].values()
    out = {k: sum(q.get(k, 0.0) for q in per_q) for k in LAYER_SUMS}
    out["codegen.compiles"] = p["compiles"]
    out["codegen.compile_s"] = p["compile_s"]
    out["exec.slot_idle_s"] = (cores * out["exec.action_s"] -
                               sum(q.get("exec.action_task_run_s", 0.0) for q in per_q))
    out["jvm.gc_s"] = p["gc_s"]
    out["jvm.jit_s"] = p["jit_s"]
    out["jvm.non_task_cpu_s"] = p["cpu_s"] - out["exec.task_cpu_s"]
    return out


def layer_metrics(r, cold, steady):
    per_pass = [pass_layers(p, CORES) for p in steady]
    metrics = {"session.build_s": (r["session_build_s"], "s")}
    for k in per_pass[0]:
        metrics[k] = (statistics.median(p[k] for p in per_pass), unit(k))
    cold_layers = pass_layers(cold, CORES)
    metrics["codegen.cold_compiles"] = (cold_layers["codegen.compiles"], "count")
    metrics["jvm.cold_jit_s"] = (cold_layers["jvm.jit_s"], "s")
    metrics["trace.pass_s"] = (statistics.median(p["pass_s"] for p in steady), "s")
    return metrics


if __name__ == "__main__":
    main()
