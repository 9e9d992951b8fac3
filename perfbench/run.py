#!/usr/bin/env python3
"""perfbench: closed-loop pipeline benchmark for the graft engine.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload landing_ingest --seed 1 \
      --seconds 10 --trace 0

Builds the engine and the benchmark runner from source with sbt (once
per source state; the classpath is cached in .bench_build/), generates
the workload's inputs from the seed, runs the runner JVM, checks the
outputs and prints one JSON object as the last line of stdout. With
`--trace 0` it holds the end-to-end metrics; with `--trace 1` the
per-layer metrics of a traced run, whose spans are also written to
.bench_build/traces/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = tuple(gen.WORKLOADS)
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# set-up repetitions; setup_s is their median
SETUPS = 3
# untimed operations between the set-ups and the timed phase
WARMUP = {"landing_ingest": 3, "neardup_curate": 0}
HEAP = "1g"
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """Build with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    out_path = os.path.join(BUILD, "sbt.log")
    log("building engine and runner with sbt (first run in this checkout)")
    with open(out_path, "w") as out:
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        code = run_bounded(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: sbt build failed (exit {code})")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(
                f"perfbench: {need} not found at {ROOT}: run from the root "
                "of a full checkout of the engine")
    cp = classpath()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(args.workload, args.seed, work)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "result.json")
        cmd = [java_bin(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main",
                "--workload", args.workload, "--work", work,
                "--seconds", str(args.seconds), "--trace", args.trace,
                "--setups", str(SETUPS),
                "--warmup", str(WARMUP[args.workload]), "--cores", str(cores), "--out", out]
        code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: runner exited {code} without a result")
        with open(out) as f:
            raw = json.load(f)
        if args.trace == "1":
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(
                    traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": raw["spans"], "jobs": raw["jobs"],
                           "ops": raw["ops"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = set(raw["failed_ops"]) | {o["i"] for o in raw["ops"] if not o["ok"]}
    for o in raw["ops"]:
        if not o["ok"]:
            log(f"operation {o['i']} failed: {o['error']}")
    checks_ok = all(raw["checks"].values())
    if args.trace == "0":
        metrics, aux = analysis.end_to_end(raw)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        values, aux = analysis.per_layer(raw)
        metrics = {k: {"value": v, "unit": analysis.per_layer_unit(k)}
                   for k, v in values.items()}
    attempted = len(raw["ops"])
    aux.update({"workload": args.workload, "seed": args.seed, "cores": cores,
                "checks": raw["checks"],
                "ops_failed_ratio": len(bad) / attempted if attempted else 1.0})
    print(json.dumps({"aux": aux}, sort_keys=True))
    print(json.dumps({"correct": checks_ok and not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}, sort_keys=True))


if __name__ == "__main__":
    main()
