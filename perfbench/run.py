#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the engine and the
benchmark's Scala side if needed (perfbench/build.py), generates the
workload's inputs from the seed, runs the workload closed-loop with one
client in its own JVM on local[<cores>], checks every output, prints a
report, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics named in
BENCHMARK.json; with --trace 1 they are its per-layer metrics.

Run outputs (records.jsonl trace, result files) go to .bench_run/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# Table scale per query workload (sf 0.1 = 600k lineitem rows).
WORKLOADS = {
    "report_mix": {"sf": 0.01},
    "catalog_cycle": {"sf": None},
    "pipeline_heavy": {"sf": 0.01},
}
# The JVM may run --seconds plus this margin: cold start, verification or
# warm-up, one unit past the deadline, and the four units trace mode
# needs when --seconds is short.
JVM_MARGIN_S = 145
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = p.parse_args()
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, args, run_dir, timeout):
    # a fixed heap and young generation, so the resident set tracks the
    # data the program keeps rather than the collector's sizing choices
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the benchmark JVM ran past {timeout:.0f} s; see {run_dir}/jvm.log")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"the benchmark JVM exited with {code}:\n{tail}")


def check_queries(run, data_dir, run_dir):
    """Failed op ids and reasons: results that differ from the DuckDB
    oracle fail their verification op and every timed op of the query;
    a timed or warm-up count that differs from the oracle's row count fails
    that op."""
    names = sorted({o["kind"] for o in run.ops if o["cls"] == "verify"})
    verdict = oracle.check(data_dir, os.path.join(run_dir, "results"), names)
    bad = {}
    for o in run.ops:
        want, err = verdict.get(o["kind"], (None, ""))
        if err and o["cls"] in ("verify", "read", "warm"):
            bad[o["op"]] = err
        elif o["cls"] in ("read", "warm") and want is not None and o["rows"] != want:
            bad[o["op"]] = f"count {o['rows']} != oracle {want}"
    return bad


def main():
    a = parse()
    t_start = time.time()
    os.chdir(ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cp = build.build()
    except (OSError, ValueError, build.BuildError, subprocess.SubprocessError) as e:
        fail(str(e))
    t_built = time.time()

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sf = WORKLOADS[a.workload]["sf"]
    data_dir = os.path.join(run_dir, "data")
    if sf is not None:
        gen.write(a.seed, sf, data_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data_dir, "--out", run_dir,
            "--cores", str(cores())]
    budget = JVM_MARGIN_S + a.seconds - (time.time() - t_built)
    run_jvm(cp, args, run_dir, budget)

    run = metrics.Run(metrics.load(os.path.join(run_dir, "records.jsonl")))
    bad = {o["op"]: o["err"] for o in run.ops if not o["ok"]}
    if sf is not None:
        bad.update(check_queries(run, data_dir, run_dir))
    kinds = {o["op"]: o["kind"] for o in run.ops}
    failed = sorted((kinds[i], err) for i, err in bad.items())

    e2e, samples = metrics.end_to_end(run, a.workload)
    e2e["failed_frac"] = (len(failed) / len(run.ops), "frac")
    layers, layer_extra = metrics.per_layer(run) if a.trace else ({}, {})
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    source = layers if a.trace else e2e
    missing = [n for n in wanted if n not in source]
    if missing:
        fail(f"metrics not measured: {missing}")

    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "cores": cores(), "samples": samples,
        "end_to_end": {k: {"value": v, "unit": u} for k, v, u in _rows(e2e)},
        "per_layer": {k: {"value": v, "unit": u} for k, v, u in _rows(layers)},
        "per_layer_extra": layer_extra,
        "failed_ops": [{"op": k, "reason": r} for k, r in failed],
        "attempted": len(run.ops), "run_wall_s": time.time() - t_start,
    }
    os.makedirs(os.path.join(ROOT, ".bench_run", "results"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_run", "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)
    for d in ("data", "catalog", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    report(result)
    print(json.dumps({
        "correct": not failed, "attempted": len(run.ops), "failed": len(failed),
        "metrics": {n: {"value": source[n][0], "unit": source[n][1]} for n in wanted}}))


def _rows(d):
    return [(k, v[0], v[1]) for k, v in d.items()]


def report(r):
    print(f"== {r['workload']} seed={r['seed']} trace={r['trace']} cores={r['cores']} "
          f"samples={r['samples']}")
    for section in ("end_to_end", "per_layer"):
        for k, m in r[section].items():
            print(f"  {k:<38} {m['value']:>14.4f} {m['unit']}")
    for k, v in r["per_layer_extra"].get("operators.task_ms_by_file", {}).items():
        print(f"  operators.task_ms[{k}]{'':<{max(0, 20 - len(k))}} {v:>14.4f} ms")
    print(f"  ops attempted {r['attempted']}, failed {len(r['failed_ops'])}")
    for f in r["failed_ops"]:
        print(f"  FAILED {f['op']}: {f['reason']}")


if __name__ == "__main__":
    main()
