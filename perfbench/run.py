#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON record.

Usage (from the repository root):
  python3 perfbench/run.py --workload metadata|curate|index --seed N \
      --seconds S --trace 0|1

It compiles the engine (src/main/scala) and the benchmark harness
(perfbench/src) into .bench_build/ with the Scala compiler that ships
with Spark ($SPARK_HOME/jars), generates the input tables from --seed,
and runs the harness in one JVM on local[4]: set-up is a check pass,
whose results are compared with the DuckDB oracle, and one untimed warm
pass; then timed passes run for --seconds (at least three; metrics are
medians over passes). With --trace 1 it traces every second pass, each
between two untraced ones, and reports per-layer metrics instead of
end-to-end ones, plus the tracing overhead; the span tree goes to
.bench_build/traces/.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
Workload definitions and the layer -> end-to-end mapping are in
perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

RUN_TIMEOUT_S = 150
HEAP = "2g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

END_TO_END_UNITS = {"wall_s": "s", "query_p50_s": "s", "serve_p50_s": "s",
                    "ok_frac": "ratio", "setup_s": "s"}


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    if not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        raise BenchError("SPARK_HOME must name a Spark distribution")
    return os.path.join(home, "jars", "*")


def build():
    """Compile engine + harness into .bench_build/classes unless the
    sources are unchanged since the last build."""
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    if not scala or not bench:
        raise BenchError("engine or harness sources are missing")
    digest = hashlib.sha256()
    for f in scala + bench:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars,
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", jars] + scala + bench
        if subprocess.run(cmd, stdout=fh, stderr=fh).returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            raise BenchError("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(digest.hexdigest())
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def run_harness(classes, run_dir, data, wl, name, seed, seconds, trace,
                deadline):
    plan = os.path.join(run_dir, "plan.txt")
    orders = metrics.pass_orders(name, seed, len(wl["queries"]), 200)
    with open(plan, "w") as fh:
        fh.write("queries " + " ".join(wl["queries"]) + "\n")
        fh.write("serve " + " ".join(wl["serve"]) + "\n")
        for o in orders:
            fh.write("pass " + " ".join(map(str, o)) + "\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "out.json")
    cmd = (["java"] + ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=2g",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + spark_jars(), "perfbench.Harness",
            "--data", data, "--plan", plan, "--seconds", str(seconds),
            "--trace", str(trace), "--out", out,
            "--check", os.path.join(run_dir, "check")])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=fh)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError("harness timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        raise BenchError(f"harness exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def summarize(rec, trace, verdicts, modules=()):
    """(correct, attempted, failed, metric values, info lines, spans)."""
    measured = [q for p in rec["passes"] for q in p["queries"]]
    errors = sum(1 for q in measured if q["error"])
    bad = {n: why for n, why in verdicts.items() if why}
    attempted = len(verdicts) + len(measured)
    failed = errors + len(bad)
    info = [f"passes={len(rec['passes'])} queries/pass="
            f"{len(rec['passes'][0]['queries'])} pass walls="
            f"{[round(p['wall_s'], 2) for p in rec['passes']]}"]
    info += [f"FAIL {n}: {why}" for n, why in sorted(bad.items())]
    info += [f"ERROR {q['name']}: {q['error']}" for q in measured
             if q["error"]]
    if not trace:
        samples = [q["construct_s"] + q["execute_s"] for q in measured]
        serve = set(rec["serve"]) or set(rec["names"])
        serve_samples = [q["construct_s"] + q["execute_s"] for q in measured
                         if q["name"] in serve]
        by_query = {}
        for q in measured:
            by_query.setdefault(q["name"], []).append(
                q["construct_s"] + q["execute_s"])
        info.append("per-query median s: " + ", ".join(
            f"{n}={metrics.median(v):.3f}" for n, v in by_query.items()))
        tail = metrics.tail_percentile(len(samples))
        info.append(f"query samples={len(samples)}, serve samples="
                    f"{len(serve_samples)}; highest percentile with 10 "
                    f"samples beyond: {tail if tail is None else round(tail)}")
        values = {
            "wall_s": metrics.median([p["wall_s"] for p in rec["passes"]]),
            "query_p50_s": metrics.median(samples),
            "serve_p50_s": metrics.median(serve_samples),
            "ok_frac": 1.0 - failed / attempted,
            "setup_s": rec["setup_s"],
        }
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
               for k, v in values.items()}
        return not failed, attempted, failed, out, info, None
    walls = [p["wall_s"] for p in rec["passes"]]
    traced = [i for i, p in enumerate(rec["passes"]) if p["traced"]]
    per_pass, jobs_by_pass = [], []
    for i in traced:
        m, jobs, stages = metrics.layer_metrics(rec, i, modules)
        per_pass.append(m)
        jobs_by_pass.append((jobs, stages))
    values = {k: metrics.median([m[k] for m in per_pass])
              for k in per_pass[0]}
    values["io.scratch_bytes"] = rec["scratch_bytes"]
    values["trace.wall_s"] = metrics.median([walls[i] for i in traced])
    values["trace.overhead_s"] = metrics.trace_overhead(walls, traced)
    spans = metrics.trace_spans(rec, jobs_by_pass)
    values["trace.spans"] = len(spans)
    info.append(f"traced passes={traced} of {len(walls)}")
    return not failed, attempted, failed, values, info, spans


def per_layer_units():
    """Units of the per-layer metrics BENCHMARK.json names, and the
    modules its `jobs.<module>` metrics name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    return units, [k[len("jobs."):] for k in units if k.startswith("jobs.")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {args.workload}")
    wl = spec["workloads"][args.workload]
    units, modules = per_layer_units() if args.trace else (None, ())
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    run_dir = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-"
                                  f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        gen.generate(data, spec["sf"], args.seed)
        rec = run_harness(classes, run_dir, data, wl, args.workload,
                          args.seed, args.seconds, args.trace, deadline)
        errors = dict(rec["check"])
        verdicts = oracle.compare(
            data, os.path.join(run_dir, "check"),
            [n for n in rec["names"] if errors[n] is None],
            dict(rec["oracle"]))
        verdicts.update({n: e for n, e in errors.items() if e})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct, attempted, failed, values, info, spans = summarize(
        rec, args.trace, verdicts, modules)
    if args.trace:
        missing = set(units) - set(values)
        if missing:
            raise BenchError(f"per-layer metrics not computed: {missing}")
        out = {k: {"value": values[k], "unit": units[k]} for k in units}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"),
                "w") as fh:
            json.dump({"columns": ["id", "parent", "kind", "name",
                                   "start_ms", "end_ms", "query"],
                       "spans": spans}, fh)
    else:
        out = values
    for line in info:
        print(f"# {args.workload}: {line}")
    for k, v in out.items():
        print(f"# {args.workload}: {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
