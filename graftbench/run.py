#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

Usage, from the root of a checkout:

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is one of the workloads BENCHMARK.json lists, or all (each of them
in turn, each block ending with its own result line). The metrics reported,
their order and their units are BENCHMARK.json's end_to_end list with
--trace 0 and its per_layer list with --trace 1.

The engine and the harness are compiled with sbt from the checkout's own
sources (offline), once per source state; later runs reuse that build.
The workload then runs in one JVM on local[nproc]. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Build output, inputs, logs, results and span files
go under .bench_build/ in the checkout.

Exits non-zero, without a result line, when the sources are missing, the
build fails, or the run fails or overruns its time limit.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170
HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*"]
    files = []
    for base, rel in ((ROOT, pats), (HERE, pats)):
        for p in rel:
            files += [f for f in glob.glob(os.path.join(base, p), recursive=True)
                      if os.path.isfile(f)]
    return sorted(set(files))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def on_signal(signum, _frame):
    # SystemExit unwinds through run_limited, which stops the child group
    sys.exit(128 + signum)


def run_limited(cmd, cwd, env, log_path, limit_s):
    """Run cmd in its own process group with output to log_path; kill the
    group if it overruns limit_s or this script is stopped, and wait for
    it. Returns the exit code, or None on timeout."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile engine and harness unless this source state is built."""
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh, open(cp_file) as cf:
            cp = cf.read().strip()
            if fh.read().strip() == fp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH; it is needed to build the engine", 3)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    print("graftbench: building the engine and harness from source", flush=True)
    t0 = time.time()
    rc = run_limited([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     HERE, env, log, BUILD_LIMIT_S)
    if rc is None:
        fail(f"build overran {BUILD_LIMIT_S} s; log: {log}\n{tail(log)}", 3)
    if rc != 0:
        fail(f"build failed (exit {rc}); log: {log}\n{tail(log)}", 3)
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    print(f"graftbench: built in {time.time() - t0:.1f} s", flush=True)
    return cp


def load_benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}", 2)


def run_workload(java, cp, cores, workload, metrics, a):
    """Run one workload in its own JVM and print its metrics, its context
    line and, last, the result line."""
    tag = f"{workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(BUILD_DIR, "results", f"{tag}.json")
    log = os.path.join(BUILD_DIR, "logs", f"{tag}.log")
    if os.path.exists(result):
        os.remove(result)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(BUILD_DIR, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", os.path.join(BUILD_DIR, "work"), "--result", result,
            "--cores", str(cores),
            "--metrics", ",".join(f"{m['name']}:{m['unit']}" for m in metrics)]
    rc = run_limited(cmd, ROOT, dict(os.environ), log, RUN_LIMIT_S)
    if rc is None:
        fail(f"{workload} overran its {RUN_LIMIT_S} s limit; log: {log}\n"
             f"{tail(log)}", 4)
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload} failed (exit {rc}); log: {log}\n{tail(log)}", 4)

    with open(result) as fh:
        r = json.load(fh)
    ctx = r.pop("context")
    print(f"graftbench {workload} seed {a.seed} trace {a.trace}: "
          f"{ctx['input']}, local[{ctx['cores']}]")
    n_warm = ctx["ops_attempted"] - 1 - ctx["warm_up_ops"]
    for name, m in r["metrics"].items():
        note = ""
        if name in ("op_wall_s", "op_cpu_s"):
            note = f"  (median of {n_warm} warm ops)"
        print(f"  {name:<24} {m['value']:>14.6g} {m['unit']}{note}")
    print(f"  {'ops_failed':<24} {r['failed']:>14d} count  "
          f"(of {r['attempted']} attempted)")
    print(f"  {'drift':<24} {ctx['drift_last_over_first']:>14.6g} ratio  "
          "(last warm op / first warm op)")
    for f in ctx["failures"]:
        print(f"  FAILED {f}")
    print("context " + json.dumps(ctx, sort_keys=True))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}),
          flush=True)


def main():
    bench = load_benchmark()
    workloads = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source '{need}' not found under {ROOT}; "
                 "run from the root of a full checkout", 2)
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH", 2)

    for d in ("work", "logs", "results", "tmp"):
        os.makedirs(os.path.join(BUILD_DIR, d), exist_ok=True)
    cp = build()

    cores = len(os.sched_getaffinity(0))
    metrics = bench["per_layer" if a.trace == "1" else "end_to_end"]
    for workload in workloads if a.workload == "all" else [a.workload]:
        run_workload(java, cp, cores, workload, metrics, a)


if __name__ == "__main__":
    main()
