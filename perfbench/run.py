#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (perfbench/build.sbt, which reads
the repository's own build); later runs reuse the build while the
sources are unchanged. Each run starts one JVM, which writes its result
to a scratch directory under .bench_build/; this script prints the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace is 0 and the
per-layer metrics when it is 1. It exits nonzero, without a result
line, if the program's sources or the benchmark's files are missing.

Other modes:
    --pin              print the pinned results of the registry rows on
                       this tree (the "pins" of perfbench/workloads.json)
    --report           summarise the results kept under
                       .bench_build/perfbench/results: medians per
                       workload, and the tracing overhead (traced minus
                       untraced median of each end-to-end metric)
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = "perfbench"
BUILD_DIR = os.path.join(".bench_build", "perfbench")
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
CONFIG = os.path.join(BENCH_DIR, "workloads.json")
WORKLOADS = ("tweet_pipeline", "registry_batch")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# the repository's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join("src", "main"), os.path.join(BENCH_DIR, "src")]
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def check_layout():
    needed = ["build.sbt", os.path.join("src", "main", "scala"), CONFIG,
              os.path.join(BENCH_DIR, "build.sbt"), DATA_DIR]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        fail("run from the root of a graft checkout; missing: " + ", ".join(missing))


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    return env


def build():
    """Compile the program and the benchmark; return the JVM classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"]
    with open(log, "w") as out:
        proc = run_group(cmd, cwd=BENCH_DIR, env=sbt_env(), stdout=out, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if proc != 0 or not lines or os.pathsep not in lines[-1] and not lines[-1].endswith(".jar"):
        sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[error]")))
        fail(f"build failed (exit {proc}); log in {log}")
    classpath = lines[-1]
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for all of it; on
    timeout kill the group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def expected_names(key):
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def run_jvm(classpath, work, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main",
              "--work", work, "--data", DATA_DIR, "--config", CONFIG] + extra)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_group(cmd, timeout=RUN_TIMEOUT_S, stdout=out, stderr=subprocess.STDOUT)
    return code, log


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=28)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if args.report:
        return report()
    check_layout()
    if not args.pin and args.workload is None:
        fail("--workload is required")
    classpath = build()
    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{os.getpid()}-{int(time.time())}"))
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        if args.pin:
            code, log = run_jvm(classpath, work, ["--pin", "--seed", "0", "--out", out])
            if code != 0:
                sys.stderr.write(tail(log))
                fail(f"pin run failed (exit {code})")
            with open(out) as fh:
                print(json.dumps(json.load(fh), indent=2))
            return 0
        code, log = run_jvm(classpath, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out])
        if not os.path.exists(out):
            sys.stderr.write(tail(log))
            print(f"perfbench: the benchmark JVM exited {code} without a result", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
        keep(result, args, work)
        for f in result.get("failures", []):
            print(f"perfbench: FAILED {f['layer']} {f['name']}: {f['error']}", file=sys.stderr)
        for c in result.get("checks", []):
            if not c["ok"]:
                print(f"perfbench: CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
        key = "per_layer" if args.trace else "end_to_end"
        metrics = result.get(key, {})
        names = expected_names(key)
        if metrics and {n: m["unit"] for n, m in metrics.items()} != names:
            print("perfbench: metric names or units differ from BENCHMARK.json", file=sys.stderr)
            return 1
        not_finite = [n for n, m in metrics.items()
                      if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])]
        if not_finite:
            print("perfbench: metrics without a finite value: " + ", ".join(not_finite), file=sys.stderr)
            return 1
        correct = bool(result["correct"]) and code == 0
        if code != 0:
            sys.stderr.write(tail(log))
        print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                          "failed": int(result["failed"]), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def tail(path, n=60):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def keep(result, args, work):
    """Keep the full result (and spans) for --report."""
    d = os.path.join(BUILD_DIR, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    with open(os.path.join(d, name + ".json"), "w") as fh:
        json.dump(result, fh)
    spans = os.path.join(work, "result.spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(d, name + ".spans.json"))


def report():
    d = os.path.join(BUILD_DIR, "results")
    rows = {}
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.endswith(".spans.json"):
            continue
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        workload, trace = f.split("-seed")[0], f.split("-trace")[1][0]
        rows.setdefault((workload, trace), []).append(r)
    for (workload, trace), rs in sorted(rows.items()):
        print(f"{workload} trace={trace} runs={len(rs)}")
        names = sorted(rs[0].get("end_to_end", {}))
        for n in names:
            vals = [r["end_to_end"][n]["value"] for r in rs if "end_to_end" in r]
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
            med = statistics.median(vals)
            line = f"  {n:14s} median={med:.4f} iqr/median={(q[2] - q[0]) / med:.4f}"
            if trace == "1" and (workload, "0") in rows:
                base = statistics.median(r["end_to_end"][n]["value"] for r in rows[(workload, "0")])
                line += f" overhead={med - base:+.4f} ({(med - base) / base:+.2%})"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
