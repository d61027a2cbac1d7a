#!/usr/bin/env python3
"""Benchmark command: builds the engine with the harness, runs one workload
in one JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload batch_short --seed 1 --seconds 20 --trace 0

Run from the checkout root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (spans,
listener counters, per-layer self time and tracing overhead). Workloads
and generator parameters are in perfbench/workloads.json; the Spark session
is built by Main.session (src/main/scala/perfbench/Main.scala).
Build output and run scratch space go to .bench_build/ in the checkout.
Exit code 0 only when every correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import analysis  # noqa: E402

START = time.monotonic()

RUN_LIMIT_S = 170  # a run, build excluded, must end within 180 s

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


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    # deep query plans overflow scalac at the default thread stack size
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Xss128m", f"-Djava.io.tmpdir={BUILD}/tmp",
            f"-Djna.tmpdir={BUILD}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(log_path) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln][-1]
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cfg, wl, args, out, classpath, deadline):
    params = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "out": out, "cores": cfg["cores"]}
    params.update(wl["params"])
    if "sf_dir" in params:
        params["sf_dir"] = os.path.join(ROOT, params["sf_dir"])
    if "queries" in wl:
        params["queries"] = ",".join(wl["queries"])
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{cfg['jvm_heap']}", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"]
           + [f"{k}={v}" for k, v in params.items()])
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=deadline - time.monotonic())
        except subprocess.TimeoutExpired:
            fail("run did not finish in time", 4)
    if r.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness JVM exited with {r.returncode}", 4)
    return analysis.load(os.path.join(out, "records.jsonl"))


def batch_result(wl, rec, args, out, cores):
    import oracle  # duckdb is only needed by batch runs
    bad = oracle.check(os.path.join(out, "results"), os.path.join(ROOT, wl["params"]["sf_dir"]),
                       {r["q"]: r["sql"] for r in rec["oracle"]})
    for q, why in sorted(bad.items()):
        print(f"perfbench: {q}: {why}", file=sys.stderr)
    attempted, failed = analysis.batch_accounting(wl["queries"], rec["sample"], bad)
    if args.trace:
        return attempted, failed, analysis.batch_layers(rec, args.workload, cores), {}
    e2e, info = analysis.batch_e2e(rec, wl["tail_quantile"])
    return attempted, failed, e2e, info


def stream_result(wl, rec, args):
    progress = analysis.progress_of(rec)
    fresh = analysis.freshness(rec["tick"], progress, analysis.merges(rec, "tiles"))
    ingest = analysis.ingest_checks(progress, rec["gen"][0])
    for c in rec["check"]:
        if c["bad"]:
            print(f"perfbench: check {c['name']}: {c['bad']} of {c['n']} keys differ", file=sys.stderr)
    if not all(ingest):
        print(f"perfbench: ingest counts differ from the generator's: {ingest}", file=sys.stderr)
    attempted, failed = analysis.stream_accounting(fresh, rec["check"], ingest)
    if args.trace:
        return attempted, failed, analysis.stream_layers(rec, args.workload), {}
    e2e, info = analysis.live_e2e(rec, fresh, wl["tail_quantile"])
    return attempted, failed, e2e, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = cfg["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload}; known: {', '.join(cfg['workloads'])}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")

    t0 = time.monotonic()
    classpath = build()
    # the analysis after the JVM takes a few seconds; keep them in the limit
    deadline = time.monotonic() + RUN_LIMIT_S - 10 - (t0 - START)
    out = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        rec = run_jvm(cfg, wl, args, out, classpath, deadline)
        if wl["kind"] == "batch":
            attempted, failed, metrics, info = batch_result(wl, rec, args, out, cfg["cores"])
        else:
            attempted, failed, metrics, info = stream_result(wl, rec, args)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    # a layer a workload does not exercise reads 0; an end-to-end metric
    # must always be measured
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    if not args.trace:
        missing = [m["name"] for m in wanted if metrics.get(m["name"]) is None]
        if missing:
            fail(f"metrics not produced: {missing}", 5)
    # sample counts and the figures under their names in the workload
    # notes (workloads.json), for a human reader
    print(json.dumps({"workload": args.workload, "fail_ratio": analysis.fail_ratio(attempted, failed),
                      **info}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"]) or 0.0), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
