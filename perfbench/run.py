#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt on first use (perfbench/build.sbt), generates the inputs
from the seed, runs the workload in one JVM on local[nproc], checks every
operation's output against perfbench/expected.json, and prints as its last
line one JSON object with the keys correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics. The line before it records the environment and the
run's details. Workloads, metrics and layers: perfbench/README.md.

Extra flags: --tiny runs the self-test scale; --record prints the output
digests instead of measuring (see record_expected.py).
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("query_mix", "revision_etl")
REFUSED_ENV = ("SPARK_GRAFT_JAVA_OPTS", "SPARK_GRAFT_BENCH_ONLY")
HEAP = "3g"
# The heap is reserved whole (-Xms = -Xmx) but not touched in advance, and
# the young generation has a fixed size, so the resident peak follows how
# much the workload keeps live. With a growing heap and an adaptive young
# generation it followed when G1 chose to grow them (up to 25% apart
# between runs on one input).
YOUNG = "512m"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's build.sbt)
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    pats = [os.path.join(PROGRAM_SRC, "**", "*"), os.path.join(HERE, "src", "**", "*.scala")]
    files = [f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f)]
    return sorted(files + [os.path.join(HERE, "build.sbt")])


def build():
    """Compile with sbt unless the exported classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: the steal share shows how much
    of the run the host gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_version(classpath):
    for entry in classpath.split(os.pathsep):
        name = os.path.basename(entry)
        if name.startswith("spark-core_") and name.endswith(".jar"):
            return name[len("spark-core_"):-len(".jar")].split("-", 1)[1]
    return None


def run_jvm(args, cores, work):
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # keep Spark's local dirs and the program's per-process dirs in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores),
            "--expected", os.path.join(HERE, "expected.json")] +
           (["--tiny"] if args.tiny else []) + (["--record"] if args.record else []))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    if proc.returncode != 0:
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-3000:])
        raise SystemExit(f"benchmark JVM failed with code {proc.returncode}")
    return out.decode(errors="replace").splitlines(), classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    refused = [k for k in REFUSED_ENV if os.environ.get(k)]
    if refused:
        raise SystemExit(f"refusing to measure with {', '.join(refused)} set")
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("program sources (src/main/scala) not found: run from a checkout root")

    build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env_start = {"loadavg": loadavg(), "mem_available_mb": mem_available_mb(),
                 "cpu": cpu_ticks()}
    lines, classpath = run_jvm(args, cores, work)
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    tag = "PERFBENCH_RECORD " if args.record else "PERFBENCH_RESULT "
    found = [l[len(tag):] for l in lines if l.startswith(tag)]
    if not found:
        raise SystemExit("benchmark JVM printed no result")
    result = json.loads(found[-1])
    if args.record:
        print(json.dumps(result))
        return
    steal, total = (b - a for a, b in zip(env_start["cpu"], cpu_ticks()))
    env = {
        "nproc": cores, "cpu_steal_frac": round(steal / total, 4) if total else None,
        "loadavg_start": env_start["loadavg"], "loadavg_end": loadavg(),
        "mem_available_mb_start": env_start["mem_available_mb"],
        "mem_available_mb_end": mem_available_mb(), "xmx": HEAP, "xmn": YOUNG,
        "spark_version": spark_version(classpath), "git_commit": git_commit(),
        "source_digest": source_digest(),
    }
    print(json.dumps({"env": env, "details": result["details"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    if not result["correct"]:
        d = result["details"]
        for problem in d["mismatches"] + d["errors"] + d["pass_drift"]:
            log(problem)
        sys.exit(1)


if __name__ == "__main__":
    main()
