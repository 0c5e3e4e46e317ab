#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine's sources
together with the benchmark (the Scala compiler from the Spark jars, into
perfbench/target/); later runs reuse the classes until a source file
changes. Each run gets its own directory
under perfbench/.runs/, which is deleted when the run ends. The full result
record (metrics plus commit, nproc, local[n], shuffle partitions, -Xmx and
load averages) is kept under perfbench/results/. The last line printed is
the JSON summary: correct, attempted, failed and the metrics named in
BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
JVM_TIMEOUT_S = 170
XMX = "2g"
BUILD_TIMEOUT_S = 840
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


def spark_jars():
    """The Spark distribution's jar directory, the one the engine builds
    against: $SPARK_HOME/jars, else found from spark-submit on the PATH,
    else the unmanagedBase that build.sbt names. The engine compiles and
    runs against it, and its scala-compiler jar builds the benchmark."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if shutil.which("spark-submit"):
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit")))), "jars"))
    with open(os.path.join(BENCH, "build.sbt")) as fh:
        dirs += re.findall(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jars with a Scala compiler found; set SPARK_HOME", 1)


def source_files():
    files = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(jars):
    """Compile engine + benchmark once per source fingerprint with the
    Scala compiler from the Spark jars; return the runtime class path.

    The compiler runs as a plain JVM that reads only the sources and the
    jars and writes only under perfbench/target/, so the build needs no
    sbt launcher, cache or network."""
    os.makedirs(TARGET, exist_ok=True)
    files = source_files()
    fp = fingerprint(files)
    classes = os.path.join(TARGET, f"classes-{fp}")
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(classes):
            for old in glob.glob(os.path.join(TARGET, "classes-*")):
                shutil.rmtree(old, ignore_errors=True)
            out, tmp = classes + ".tmp", os.path.join(TARGET, "build-tmp")
            os.makedirs(out)
            os.makedirs(tmp, exist_ok=True)
            args_file = os.path.join(TARGET, "sources.txt")
            with open(args_file, "w") as fh:
                fh.write("\n".join(os.path.relpath(f, ROOT) for f in files if f.endswith(".scala")))
            t0 = time.time()
            try:
                p = subprocess.run(
                    ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                     "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp",
                     "-nowarn", "-d", os.path.relpath(out, ROOT), "@" + os.path.relpath(args_file, ROOT)],
                    cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                    timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"build took longer than {BUILD_TIMEOUT_S}s", 1)
            if p.returncode != 0:
                sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
                fail("build failed", 1)
            os.replace(out, classes)
            print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return os.pathsep.join([classes, os.path.join(ENGINE_SRC, "resources"),
                            os.path.join(jars, "*")]), fp


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # any integer is a seed: the engine side takes it as a signed 64-bit
    # value, so fold it into that range (distinct for |seed| < 2**63)
    seed64 = (args.seed + 2**63) % 2**64 - 2**63

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")

    cp, src_fp = build(spark_jars())
    run_dir = os.path.join(BENCH, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    results = os.path.join(BENCH, "results")
    os.makedirs(results, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}"
            f"-{os.getpid()}")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(seed64),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", run_dir, "--out", out,
            "--python", sys.executable, "--oracle", os.path.join(BENCH, "oracle.py")] +
           (["--spans", os.path.join(results, name + "-spans.jsonl")] if args.trace else []))
    try:
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            # its own process group, so that a timeout also stops the
            # oracle process the JVM may have started
            p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"benchmark JVM failed ({rc})", 1)
        with open(out) as fh:
            record = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record.update({"commit": commit(), "source_fingerprint": src_fp, "xmx": XMX})
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    group = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[group]:
        if m["name"] not in record[group]:
            fail(f"metric {m['name']} missing from the {args.workload} record", 1)
        metrics[m["name"]] = {"value": record[group][m["name"]], "unit": m["unit"]}
    print("run: " + json.dumps({k: record.get(k) for k in (
        "workload", "seed", "commit", "source_fingerprint", "nproc", "master",
        "shuffle_partitions", "xmx_mb", "load_after_warmup", "load_end", "steal_frac", "ops", "steps",
        "timed_s", "errors")}))
    print(json.dumps({"correct": record["correct"] == "true" or record["correct"] is True,
                      "attempted": int(record["attempted"]), "failed": int(record["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
