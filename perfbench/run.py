#!/usr/bin/env python3
"""Benchmark entry point: run one named workload of the graft engine.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  The first run builds the engine
(sbt) and the benchmark harness (perfbench/harness, sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged.

One run:
  1. generates the workload's inputs from --seed (perfbench/gen.py), cached
     per (seed, scale, generator source) under .bench_build/data;
  2. measures set-up: fresh JVMs that only build the engine session, plus
     the pass JVMs' own set-up; setup_s is the median;
  3. runs workload passes, each in a fresh JVM (perfbench.Harness): every
     query in turn, one at a time, every output column written as parquet;
     passes repeat until --seconds of workload time is measured;
  4. checks every pass's outputs with the repo's own gate, tools/check.py:
     each query's DuckDB oracle runs on the same inputs and is compared
     strictly with the written parquet, outside the timed window.

With --trace 0 it reports the end-to-end metrics (medians over the run's
passes).  With --trace 1 it runs one untraced and one traced pass; the
traced pass adds a SparkListener / StreamingQueryListener and direct calls
into the engine's modules, and the run reports the per-layer metrics plus
the tracing overhead: traced minus untraced workload wall time, and the
time the listener itself spent handling the workload's events.

The last line of standard output is the result JSON; the line before it
records the seed, scale, cores, heap and off-heap of the run.  Progress and
per-query times go to standard error.  The heap and off-heap sizes follow
/proc/meminfo.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SETUPS = 3  # set-up samples per untraced run
RUNS = os.path.join(BUILD, "run", str(os.getpid()))  # this run's passes, removed at exit

sys.dont_write_bytecode = True  # leave no cache files in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402

# The module opens Spark needs on JDK 17 outside spark-submit, as in build.sbt.
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sbt_env(extra=None):
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.update(extra or {})
    return env


def sbt_classpath(cwd, env):
    """Compile the sbt project in `cwd`; return its runtime classpath."""
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise RuntimeError(f"sbt build failed in {cwd}")
    return lines[-1].strip()


def source_stamp():
    """Hash of every source the build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    h = hashlib.sha256()
    for f in files:
        if not os.path.isfile(f):
            raise RuntimeError(f"missing source: {os.path.relpath(f, ROOT)}")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Engine + harness classpath, rebuilt when any source changed."""
    stamp_file = os.path.join(BUILD, "build.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            b = json.load(f)
        if b.get("stamp") == stamp:
            return b["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    engine_cp = sbt_classpath(ROOT, sbt_env())
    cp = sbt_classpath(os.path.join(HERE, "harness"), sbt_env({"PERFBENCH_ENGINE_CP": engine_cp}))
    log(f"[perfbench] built engine + harness in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def host():
    """Cores, and heap / off-heap GB that together fit in physical memory."""
    total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    total_gb = total_kb / (1024 * 1024)
    heap = max(2, min(8, int(total_gb // 5)))
    offheap = max(1, min(4, int(total_gb // 10)))
    if heap + offheap > total_gb * 0.6:
        raise RuntimeError(f"host has {total_gb:.1f} GB: too small for {heap}g heap + {offheap}g off-heap")
    cpus = min(4, len(os.sched_getaffinity(0)))
    return cpus, heap, offheap


def inputs(seed, scale):
    """Generated tables for (seed, scale), cached; a changed gen.py makes a new set."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"seed{seed}-sf{scale}-{gen_hash}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, scale)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_pass(cp, hw, data, queries, tag, trace=False):
    """One fresh engine JVM.  Returns the harness result with setup_s added."""
    cpus, heap, offheap = hw
    work = os.path.join(RUNS, tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out, result = os.path.join(work, "out"), os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Harness",
              "--data", data, "--out", out, "--queries", ",".join(queries),
              "--cpus", str(cpus), "--result", result]
           + (["--trace"] if trace else []))
    env = dict(os.environ, SPARK_GRAFT_OFFHEAP_GB=str(offheap), SPARK_LOCAL_DIRS=tmp)
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=170)
    if p.returncode != 0 or not os.path.exists(result):
        log(p.stdout[-4000:])
        raise RuntimeError(f"engine pass {tag} exited with {p.returncode}")
    with open(result) as f:
        r = json.load(f)
    r["setup_s"] = r["ready_ms"] / 1000.0 - t0
    log(f"[perfbench] {tag}: setup {r['setup_s']:.2f} s, workload {r['wall_s']:.2f} s, "
        f"JVM {time.time() - t0:.1f} s")
    r["out"] = out
    return r


def check_pass(r, data):
    """Failed queries of one pass: exceptions, queries without an oracle,
    and outputs that tools/check.py fails.  Returns {query: reason}."""
    with open(os.path.join(r["out"], "oracle_sql.json")) as f:
        sqls = json.load(f)
    p = subprocess.run([sys.executable, "-B", os.path.join(ROOT, "tools", "check.py"), data, r["out"]],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    lines = p.stdout.splitlines()
    if p.returncode not in (0, 1) or not lines or not lines[-1].endswith(" failed"):
        log(p.stdout[-4000:])
        raise RuntimeError(f"tools/check.py exited with {p.returncode}")
    bad = {q: why for q, _, why in (l[len("FAIL "):].partition(": ") for l in lines
                                    if l.startswith("FAIL "))}
    for q, v in r["queries"].items():
        if v["ok"] is not True:
            bad[q] = v.get("error", "failed")
        elif q not in sqls:
            bad[q] = "no oracle"
    return bad


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"][a.workload]
    cp = build()
    hw = host()
    scale, queries = spec["scale"], spec["queries"]
    log(f"[perfbench] workload={a.workload} seed={a.seed} scale={scale} cpus={hw[0]} "
        f"heap={hw[1]}g offheap={hw[2]}g")
    t_gen = time.time()
    data = inputs(a.seed, scale)
    log(f"[perfbench] inputs ready in {time.time() - t_gen:.1f} s")

    passes, setups = [], []
    try:
        if a.trace:
            passes.append(run_pass(cp, hw, data, queries, "untraced"))
            passes.append(run_pass(cp, hw, data, queries, "traced", trace=True))
        else:
            measured = 0.0
            while not passes or measured < a.seconds:
                r = run_pass(cp, hw, data, queries, f"pass{len(passes)}")
                passes.append(r)
                measured += r["wall_s"]
                setups.append(r["setup_s"])
            while len(setups) < SETUPS:
                setups.append(run_pass(cp, hw, data, [], f"setup{len(setups)}")["setup_s"])
        t_check = time.time()
        failures = [check_pass(r, data) for r in passes]
        log(f"[perfbench] output check took {time.time() - t_check:.1f} s")
    finally:
        shutil.rmtree(RUNS, ignore_errors=True)

    attempted = len(queries) * len(passes)
    failed = sum(len(f) for f in failures)
    for i, f in enumerate(failures):
        for q, why in f.items():
            log(f"[perfbench] FAIL pass {i} {q}: {why}")
    if a.trace:
        untraced, traced = passes
        trace = dict(traced["trace"])
        trace["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
        trace["queries.failed_frac"] = failed / attempted
        trace["core.peak_rss_mb"] = traced["peak_rss_mb"]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = {m["name"]: metric(trace[m["name"]], m["unit"]) for m in per_layer}
    else:
        metrics = {
            "setup_s": metric(statistics.median(setups), "s"),
            "wall_s": metric(statistics.median(r["wall_s"] for r in passes), "s"),
            "cpu_s": metric(statistics.median(r["cpu_s"] for r in passes), "s"),
        }
    log("[perfbench] per-query seconds: " + json.dumps(
        {q: [round(r["queries"][q]["s"], 3) for r in passes] for q in queries}))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "scale": scale, "cpus": hw[0],
                      "heap_gb": hw[1], "offheap_gb": hw[2], "passes": len(passes)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    # A terminated run still stops its engine JVM: SystemExit unwinds
    # through subprocess.run, which kills and reaps the child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except Exception as e:  # no result line: the run failed
        log(f"[perfbench] error: {e}")
        sys.exit(1)
