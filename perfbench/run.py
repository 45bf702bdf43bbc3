#!/usr/bin/env python3
"""Object-store-shaped cache benchmark: one run of one workload.

    python3 perfbench/run.py --workload scan_hot --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the repository's main
sources together with the benchmark (sbt, offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. Inputs are generated
from the seed under .bench_build/data/ and reused for the same seed. Each run
gets its own JVM and a fresh cache directory. The last line of stdout is the
JSON result; see perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scan_hot", "scan_churn", "point_rw", "ops_mix")
BUDGET_MB = 32
# ~1.9 MB files per scan workload: scan_hot's fill a quarter of the budget,
# the most one of the cache registry's four hash segments holds whatever the
# hashes, so none is evicted by chance; scan_churn's are ~4x the budget
SCAN_FILES = {"scan_hot": 4, "scan_churn": 68}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath for these sources exists."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no repository sources at src/main/scala; "
                 "run from the root of a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got, cp = fh.read().split("\n", 1)
        if got == digest:
            return cp.strip()
    log("building (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    # resolve from the local caches only; never reach for the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cps[-1])
    return cps[-1]


def prepare_data(workload, seed):
    """Seeded inputs, generated once per (workload, seed)."""
    if workload == "point_rw":
        return None  # the JVM writes point_rw's files: they are rewritten in-run
    base = os.path.join(BUILD, "data", workload)
    out = os.path.join(base, str(seed))
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        import datagen  # numpy and pyarrow load only when inputs are made
        # keep one seed per workload on disk
        shutil.rmtree(base, ignore_errors=True)
        if workload == "ops_mix":
            datagen.ops_tables(out, seed)
        else:
            datagen.scan(out, seed, SCAN_FILES[workload], BUDGET_MB)
        open(done, "w").close()
    return out


def run_jvm(cp, args, data, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # heap capped, neither fixed nor pre-touched: it grows as the program
    # needs, so resident memory follows the program's use
    cmd = [java, "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        # the JVM runs in its own session: take it down with this script
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sys.exit("perfbench: interrupted")

    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run timed out")
    except BaseException:
        stop()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    data = prepare_data(args.workload, args.seed)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if data is None:
            data = os.path.join(work, "data")
        line = run_jvm(cp, args, data, work)
        if args.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                dest = os.path.join(BUILD, "traces", f"{args.workload}.spans.jsonl")
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.move(spans, dest)
                log(f"spans written to {os.path.relpath(dest, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
