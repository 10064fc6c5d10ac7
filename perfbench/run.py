#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library and the harness from
source (once per source digest), generates the workload's inputs from the
seed (once per seed), runs one JVM with the benchmark's session posture,
checks the outputs, prints every metric with its unit and, as the last
line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics. Exits non-zero
when a check fails or an operation fails. Everything the run writes
stays under ``.bench_build/`` in the checkout.
"""
import argparse
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "3g"
# JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def call(cmd, timeout, **kw):
    """Runs ``cmd`` to completion; the child never outlives this process."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compiles library + harness unless the sources are unchanged."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    want = digest([os.path.join(ROOT, "src", "main"),
                   os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                   os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return classes
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    t0 = time.time()
    rc = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 800,
              cwd=HERE, env=env)
    if rc != 0:
        die(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def inputs(workload, seed):
    """The workload's generated tables for this seed, made once."""
    data = os.path.join(WORK, "data", f"{workload}-{seed}")
    stamp = os.path.join(data, "inputs.json")
    want = digest([os.path.join(HERE, "gen.py")])
    if os.path.exists(stamp):
        with open(stamp) as f:
            meta = json.load(f)
        if meta.get("generator") == want:
            return data, meta
    shutil.rmtree(data, ignore_errors=True)
    t0 = time.time()
    sizes = gen.generate(workload, seed, data)
    meta = {"generator": want, "sizes": sizes, "gen_s": time.time() - t0}
    with open(stamp, "w") as f:
        json.dump(meta, f)
    return data, meta


def run_jvm(home, classes, args, data, out):
    local = os.path.join(WORK, "tmp")
    for d in (local, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(local)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cores = len(os.sched_getaffinity(0))
    cmd = [java, *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={local}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", os.pathsep.join([classes, os.path.join(home, "jars", "*")]),
           "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), data, out, str(cores), local]
    rc = call(cmd, JVM_TIMEOUT_S, cwd=WORK)
    if rc is None:
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 1)
    path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(path):
        die(f"benchmark JVM failed (exit {rc})", 1)
    with open(path) as f:
        return json.load(f)


def end_to_end(res):
    samples = {
        "setup_s": res["setup_s"],
        "first_pass_s": [res["first_pass_s"]] if "first_pass_s" in res else [],
        "steady_pass_s": res["steady_pass_s"],
        "cpu_s": res["steady_cpu_s"],
        "heap_mb": [res["heap_mb"]],
        "op_ms": res["op_ms"],
    }
    values = {k: stats.median(v) for k, v in samples.items()
              if v and k != "op_ms"}
    summaries = {k: stats.summary(v) for k, v in samples.items() if v}
    return values, summaries


def per_layer(res, names):
    layers = dict(res.get("layers", {}))
    traced, untraced = res.get("traced_steady_pass_s"), res.get("steady_pass_s")
    if traced and untraced:
        layers["trace.steady_pass_s"] = stats.median(traced)
        layers["trace.overhead"] = stats.median(traced) / stats.median(untraced)
    return {n: layers.get(n, 0.0) for n in names}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("library sources (src/main/scala/graft) not found: run from a "
            "checkout of the repository")
    os.makedirs(WORK, exist_ok=True)

    home = spark_home()
    classes = build(home)
    data, meta = inputs(args.workload, args.seed)
    out = os.path.join(WORK, "out", f"{args.workload}-{args.seed}-t{args.trace}")
    t0 = time.time()
    res = run_jvm(home, classes, args, data, out)
    print(f"perfbench: jvm {time.time() - t0:.1f} s", file=sys.stderr)

    checks = res["checks"]
    correct = res["failed"] == 0 and all(c["ok"] for c in checks)

    if args.trace:
        wanted = spec["per_layer"]
        values = per_layer(res, [m["name"] for m in wanted])
        summaries = {}
    else:
        wanted = spec["end_to_end"]
        values, summaries = end_to_end(res)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        correct = False

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    attempted = res["attempted"]
    print(f"{args.workload} failed_frac = {res['failed'] / max(attempted, 1):.6g} "
          f"({res['failed']} of {attempted} operations)")
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    for fl in res["failures"]:
        print(f"OPERATION FAILED pass {fl['pass']} {fl['op']}: "
              f"{fl['class']}: {fl['message']}")
    detail = {"workload": args.workload, "seed": args.seed,
              "why": next(w["why"] for w in spec["workloads"]
                          if w["name"] == args.workload),
              "posture": res["posture"], "inputs": {**meta["sizes"], **res["inputs"]},
              "gen_s": meta["gen_s"], "summaries": summaries,
              "checks": {"passed": sum(c["ok"] for c in checks),
                         "failed": [c for c in checks if not c["ok"]]},
              "missing_metrics": missing, "trace_file":
                  os.path.relpath(os.path.join(out, "spans.json"), ROOT)
                  if args.trace else None}
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
