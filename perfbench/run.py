#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from this checkout's sources with sbt (only
when a source file changed since the last build), runs one workload in a
fresh JVM and prints the result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separate traced run. Everything the run writes stays under
perfbench/: the build in perfbench/target, scratch data in
perfbench/work (removed at exit), results and traces in perfbench/out.
See perfbench/README.md.
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
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_STAMP = os.path.join(HERE, "target", "graftbench-build.json")
WORKLOADS = ("pipeline_daily", "corpus_curation")
RUN_LIMIT_S = 175
# Spark runs at local[CORES]: most jobs here have one or two tasks, and the
# remaining cores keep the JIT compiler and GC threads from competing with
# task threads, which is what made pass times swing on four cores.
CORES = 2
BUILD_LIMIT_S = 600

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build: graft's sources and resources,
    and the harness."""
    h = hashlib.sha256()
    roots = [GRAFT_SRC, os.path.join(ROOT, "src", "main", "resources"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = source_hash()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest and all(os.path.exists(p) for p in stamp["classpath"]):
            return stamp["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt is not on PATH")
    log("building graft and the harness with sbt")
    t0 = time.time()
    proc = start([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                 cwd=HERE, env=sbt_env(), stderr=subprocess.STDOUT)
    try:
        output, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    finally:
        stop(proc)
    if proc.returncode != 0:
        sys.stderr.write(output[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {proc.returncode}")
    lines = [l for l in output.splitlines()
             if "scala-library" in l and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt did not print the runtime classpath")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    log(f"build done in {time.time() - t0:.0f} s")
    return classpath


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or "java"


def run_jvm(args, classpath, deadline):
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cores = min(CORES, os.cpu_count() or 1)
    cmd = [java_bin()]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # two JIT compiler threads (C1 and C2): with the two task threads that
    # keeps the JVM's busy threads within four cores while a cold run
    # compiles (the default of three spent a third more CPU on the JIT for
    # no faster pass)
    cmd += ["-Xmx2g", "-XX:+UseSerialGC", "-Xmn512m", "-XX:CICompilerCount=2", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(cores),
            "--expected", os.path.join(HERE, "expected"),
            "--record", "1" if args.record else "0"]
    # keep Spark's and the JVM's scratch files inside the work directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    env["TMPDIR"] = tmp
    proc = start(cmd, cwd=work, env=env)
    lines = []
    try:
        remaining = max(1.0, deadline - time.time())
        stdout, _ = proc.communicate(timeout=remaining)
        lines = stdout.splitlines()
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        return None
    finally:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        log(f"JVM exited with code {proc.returncode}")
        return None
    return lines[-1]


CHILDREN = []


def start(cmd, **kw):
    """Start `cmd` in its own process group, so that stop() ends it and
    everything it spawned (sbt forks a JVM)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def stop(proc):
    """End the process group of `proc` (if still running) and wait for it."""
    if proc.poll() is not None:
        return
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=wait)
            return
        except subprocess.TimeoutExpired:
            pass


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="append this seed's output digests to perfbench/expected instead of checking")
    args = ap.parse_args()

    def on_signal(signum, _frame):
        for p in CHILDREN:
            stop(p)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        log(f"graft sources not found under {os.path.relpath(GRAFT_SRC, os.getcwd())}")
        return 2
    try:
        classpath = build()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 3
    line = run_jvm(args, classpath, time.time() + RUN_LIMIT_S)
    if line is None:
        return 1
    try:
        result = json.loads(line)
    except ValueError:
        log(f"last line is not a result: {line[:200]}")
        return 1
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("result line has unexpected keys")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
