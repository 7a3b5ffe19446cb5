#!/usr/bin/env python3
"""The repository benchmark: one command that builds the engine and the
benchmark from source, generates seeded inputs, runs one workload in a
fresh JVM, checks every output and prints the metrics.

    python3 perfbench/run.py --workload table_churn --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are the per-layer metrics of a separate traced run, and
the spans are written under .bench_build/traces/.

Two more modes, for people tuning or checking the benchmark:

    --repeat N       run N seeds (seed, seed+1, ...) and print each metric's
                     median and quartiles and its spread against the
                     BENCHMARK.json bound; with --trace 1 each seed also
                     runs traced, and the tracing overhead (traced over
                     untraced medians) is printed
    --determinism    run the same seed twice, traced, one episode each, and
                     require the deterministic counts to be identical
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("table_churn", "vector_serve")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked mains).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# Counts that must not move between two runs of the same code and seed.
DETERMINISTIC = ("driver.jobs_per_op", "driver.stages_per_op",
                 "driver.tasks_per_op", "exec.shuffle_read_records",
                 "sources.tar_bytes", "write_amp", "space_amp", "quality")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the run classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Xmx2g").strip()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(res.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def run_once(cp, workload, seed, seconds, trace, episodes=0):
    """One fresh-JVM run. Returns the JVM's result dict plus gen_s."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir)
    try:
        t0 = time.monotonic()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--out", in_dir], check=True)
        gen_s = time.monotonic() - t0
        result_file = os.path.join(run_dir, "result.json")
        trace_file = os.path.join(BUILD, "traces", f"{workload}-s{seed}.jsonl")
        cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={run_dir}",
                "-Dspark.ui.enabled=false", "-cp", cp] + ADD_OPENS +
               ["perfbench.Main", workload, in_dir,
                os.path.join(run_dir, "work"), str(seconds), str(trace),
                str(episodes), str(cores()), result_file, trace_file])
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{workload} did not finish in {RUN_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(result_file):
            die(f"{workload} exited with {code}")
        with open(result_file) as f:
            res = json.load(f)
        res["gen_s"] = gen_s
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec, res, trace):
    e2e = dict(res["end_to_end"])
    e2e["setup_s"] = (res["gen_s"] + res["jvm_s"] +
                      statistics.median(res["setup_reps_s"]) + res["warmup_s"])
    source, wanted = ((res["per_layer"], spec["per_layer"]) if trace
                      else (e2e, spec["end_to_end"]))
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        die(f"metrics missing from the run: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def repeat(cp, spec, a):
    rows = {}
    for i in range(a.repeat):
        for trace in range(a.trace + 1):
            res = run_once(cp, a.workload, a.seed + i, a.seconds, trace)
            line = result_line(spec, res, trace)
            print(f"seed {a.seed + i} trace {trace}: attempted "
                  f"{line['attempted']} failed {line['failed']}", flush=True)
            for k, v in line["metrics"].items():
                rows.setdefault((trace, k), []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    print(f"\n{a.workload}: {a.repeat} seeds from {a.seed}, {a.seconds} s each")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    for (trace, k), xs in sorted(rows.items()):
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        bound = f"{b:6.2f}" if (b is not None and not trace) else "     -"
        print(f"{k:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound}")
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
    untraced = {k: statistics.median(v) for (t, k), v in rows.items() if t == 0}
    traced = {k: statistics.median(v) for (t, k), v in rows.items() if t == 1}
    overhead = {}
    for e2e, tr in (("items_per_s", "trace.items_per_s"),
                    ("op_p50_ms", "trace.op_p50_ms")):
        if untraced.get(e2e) and tr in traced:
            overhead[e2e] = traced[tr] / untraced[e2e]
            print(f"tracing overhead {e2e}: traced/untraced = {overhead[e2e]:.3f}")
    print(json.dumps({"workload": a.workload, "metrics": summary,
                      "tracing_overhead": overhead}))


def determinism(cp, a):
    runs = []
    for _ in range(2):
        res = run_once(cp, a.workload, a.seed, a.seconds, 1, episodes=1)
        merged = dict(res["per_layer"])
        merged.update(res["end_to_end"])
        runs.append(merged)
    same = True
    for k in DETERMINISTIC:
        x, y = runs[0][k], runs[1][k]
        ok = x == y
        same &= ok
        print(f"{k:32s} {x!r:>24} {y!r:>24} {'same' if ok else 'DIFFERENT'}")
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "identical": same}))
    sys.exit(0 if same else 1)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--determinism", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    cp = build()
    if a.determinism:
        determinism(cp, a)
    elif a.repeat:
        repeat(cp, spec, a)
    else:
        res = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(result_line(spec, res, a.trace)))


if __name__ == "__main__":
    main()
