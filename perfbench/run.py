#!/usr/bin/env python3
"""Build the engine with the benchmark, then run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine sources
together with the benchmark (sbt, offline) and records a stamp of the
sources; later runs reuse the build while the stamp matches. The workload
runs in one JVM sized from this host: local[nproc], heap from
/proc/meminfo. All scratch data stays under perfbench/.work, which is
emptied before and after every run. The last line of standard output is
the result JSON; on any failure the script exits non-zero without one.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
WORKLOADS = ("batch", "gff_lookup")
BUILD_TIMEOUT_S = 800


def run_timeout_s(seconds):
    """A fixed allowance for JVM start and set-up, plus three measuring
    budgets: the run itself, and the traced run's extra passes."""
    return 140 + 3 * seconds


# Spark on JDK 17 outside spark-submit needs these (the same list the
# repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("run.py: no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    """A hash of what the build reads: the build definition and the engine's
    and the benchmark's sources (never sbt's own output under target/)."""
    h = hashlib.sha256()
    project = os.path.join(HERE, "project")
    files = [os.path.join(HERE, "build.sbt")] + [
        os.path.join(project, n) for n in os.listdir(project)
        if n.endswith((".properties", ".sbt", ".scala"))]
    for r in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    stamp = source_stamp()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    log("compiling engine + benchmark with sbt")
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    opts += " -Djava.io.tmpdir=" + os.path.join(TARGET, "tmp")
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)[0]
    if rc != 0:
        sys.exit(f"run.py: build failed (rc={rc})")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def run_group(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 124, ""
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass
    return p.returncode, out or ""


def host_sizes():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = min(8, max(2, mem_kb // 2097152))  # half the RAM, 2..8 GiB
    return cores, heap_gb * 1024


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"run.py: engine sources not found under {os.path.relpath(ENGINE_SRC)}")

    env = dict(os.environ)
    home = spark_home()
    env["SPARK_HOME"] = home
    build(env)

    cores, heap_mb = host_sizes()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([CLASSES, os.path.join(HERE, "src", "main", "resources"),
                          os.path.join(home, "jars", "*")])
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap and the throughput collector steady the timings;
        # no perf-data file is written outside the checkout
        f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--cores", str(cores), "--heap-mb", str(heap_mb),
        "--work", WORK, "--trace-dir", TRACES,
    ]
    try:
        rc, out = run_group(cmd, cwd=ROOT, env=env, timeout=run_timeout_s(a.seconds),
                            stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        sys.exit(f"run.py: benchmark failed (rc={rc}) without a result")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
