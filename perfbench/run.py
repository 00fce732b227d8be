#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <log_cli|catalog|log_tail> --seed <n>
        --seconds <s> --trace <0|1> [--overhead 1]

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt) into target/ and .bench_build/;
later runs reuse the build while the sources are unchanged. Each run is a
fresh JVM on every core. Lines before the last name each metric with its
value and unit; the last line is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. A traced run
leaves its span tree and per-entry counts in .bench_build/traces/. With
--trace 1 --overhead 1 the invocation first makes an untraced run of the
same seed and also prints the tracing overhead of each end-to-end
metric: overhead.<metric>, the traced value minus the untraced one.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# The JVMs of one invocation (two with --overhead 1) end within this
# many seconds of the build.
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx4g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_killing_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Compiles the program and the benchmark unless the sources are
    unchanged since the last build; returns (classpath, jvm options)."""
    launcher = os.path.join(BUILD, "launcher.txt")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if not (os.path.exists(launcher) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = run_killing_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "writeLauncher"], BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launcher):
            fail(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    cp, jvm = None, []
    for line in open(launcher):
        kind, _, val = line.rstrip("\n").partition(" ")
        if kind == "CP":
            cp = val
        elif kind == "OPT":
            jvm.append(val)
    return cp, jvm


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_eps", "1/s"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name.startswith("ratio") else "count"


def run_jvm(cp, jvm, a, trace, start):
    """One fresh JVM running the workload; returns its result. A traced
    run leaves its artifact in .bench_build/traces/."""
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + jvm + [HEAP, f"-Djava.io.tmpdir={tmp}",
                             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                             "-cp", cp, "perfbench.Main",
                             "--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(trace),
                             "--bench", BENCH, "--work", work, "--out", out])
    jvm_log = os.path.join(BUILD, "jvm.log")
    # Spark's scratch space stays in the checkout (spark.local.dir).
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    timeout = RUN_BUDGET_S - (time.monotonic() - start)
    with open(jvm_log, "w") as log:
        rc = run_killing_group(cmd, max(timeout, 1), cwd=ROOT, stdout=log, env=env,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed (exit {rc}); see {jvm_log}")
    res = json.load(open(out))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    for f in os.listdir(work):
        if f.startswith("trace-"):
            shutil.move(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are missing")

    cp, jvm = build()
    start = time.monotonic()
    overhead = {}
    if a.trace:
        plain = run_jvm(cp, jvm, a, 0, start) if a.overhead else None
        res = run_jvm(cp, jvm, a, 1, start)
        if plain:
            for k in ("attempted", "failed", "errors"):
                res[k] += plain[k]
            res["correct"] = res["correct"] and plain["correct"]
            overhead = {m["name"]: (res["e2e"][m["name"]] - plain["e2e"][m["name"]], m["unit"])
                        for m in spec["end_to_end"]}
        # A layer this workload does not exercise did no work: count 0.
        metrics = {m["name"]: {"value": res["layer"].get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        res = run_jvm(cp, jvm, a, 0, start)
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for k, v in sorted(res["detail"].items()):
        if isinstance(v, (int, float)):
            print(f"{a.workload}.{k} {v} {unit_of(k)}")
    print(f"{a.workload}.fail_frac {res['failed'] / max(res['attempted'], 1)} ratio")
    for e in res["errors"]:
        print(f"FAILED {e}")
    for k, (v, unit) in overhead.items():
        print(f"overhead.{k} {v} {unit}")
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
