#!/usr/bin/env python3
"""Product-loop benchmark of the engine: one command per run.

    python3 loopbench/run.py --workload loop|curate --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt, offline, against the Spark jars the
engine's build names; later runs reuse the build while no source
changed.
Each run generates its inputs from the seed, starts one JVM that drives
the engine's public APIs (see LoopBench.scala), checks every output
against values computed apart from the engine (check.py), and prints
one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything a run writes stays under .bench_build/ in
the checkout; the full result and, when traced, the spans are kept in
.bench_build/loopbench/results/.
"""
import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "loopbench")
DEADLINE_S = 170          # a run must end within 180 s once built
BUILD_DEADLINE_S = 700
WORKLOADS = ("loop", "curate")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=%s/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~"))


def fail(msg):
    print("loopbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "loopbench/build.sbt",
             "loopbench/project", "loopbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep)
            and "project/project" not in d for f in fs)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Build (or reuse) the engine and the benchmark; returns
    (classpath, seconds spent building)."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no %s here: run from the root of a checkout of the engine" % need)
    stamp = os.path.join(OUT, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest and all(
                os.path.exists(p) for p in s["classpath"].split(os.pathsep)[:2]):
            return s["classpath"], 0.0
    t0 = time.time()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export loopbench/Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "loopbench"), env=env, stdout=subprocess.PIPE,
            stderr=lf, stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S, text=True)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        fail("build failed, see %s" % log)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, time.time() - t0


def run_jvm(cp, args, work, result, keep_log):
    heap = "3g"
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.loopbench.LoopBench",
              "--workload", args.workload, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", os.path.join(work, "data"),
              "--work", work, "--out", result])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    left = DEADLINE_S - (time.time() - PROCESS_START)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(left, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        shutil.copy(log_path, keep_log)
        fail("the engine run %s, see %s" % (
            "passed the %d s deadline" % DEADLINE_S if rc is None else "failed (exit %d)" % rc,
            keep_log))


def steal_s():
    """CPU time the hypervisor gave to others while this VM wanted it
    (cpu steal, all cores), in seconds; a diagnostic of host load."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(r, setup_s):
    """setup_s: process start to the first timed operation, build time
    excluded. round_p50_ms: median wall of one round of the workload.
    op_geomean_ms: geometric mean over the workload's operation kinds of
    each kind's median wall."""
    ops = r["ops"]
    geo = math.exp(statistics.fmean(math.log(median(ops[k])) for k in r["kinds"]))
    return {
        "setup_s": (setup_s, "s"),
        "round_p50_ms": (median(ops["round"]), "ms"),
        "op_geomean_ms": (geo, "ms"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, build_s = build()
    tag = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(OUT, "work", "%s-%d" % (tag, os.getpid()))
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    try:
        plan = gen.generate(args.seed, os.path.join(work, "data"))
        result_file = os.path.join(work, "result.json")
        t_jvm, steal0 = time.time(), steal_s()
        run_jvm(cp, args, work, result_file, os.path.join(results, tag + ".jvm.log"))
        jvm_end, steal = time.time(), steal_s() - steal0
        shutil.copy(result_file, os.path.join(results, tag + ".json"))
        with open(result_file) as f:
            r = json.load(f)
        setup_s = r["timed_start_ms"] / 1e3 - PROCESS_START - build_s
        errors, figures = check.check(args.workload, r, plan, os.path.join(work, "data"))
        e2e = end_to_end(r, setup_s)
        r.pop("check")
        r.update({"seed": args.seed, "trace": args.trace, "build_s": build_s,
                  "jvm_s": jvm_end - t_jvm, "host_steal_s": steal,
                  "errors": errors, "figures": figures,
                  "end_to_end": {k: v[0] for k, v in e2e.items()}})
        with open(os.path.join(results, tag + ".json"), "w") as f:
            json.dump(r, f, indent=1)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(results, tag + ".spans.json"))
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in r["layers"].items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("loopbench: check failed: " + e, file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def unit_of(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_us", "us"), ("ms_per_mb", "ms/MB"),
                         ("us_per_chunk", "us"), ("_bytes", "bytes"),
                         ("bytes_per_input_byte", "ratio"), ("_per_write", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
