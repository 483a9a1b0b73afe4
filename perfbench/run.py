#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness
and graft from source with sbt (perfbench/build.sbt) and caches the
classpath under .perfbench/; later runs start the JVM directly. Every run
works in a private directory under .perfbench/runs/ (Spark local dirs, the
JVM temp dir and all tables) and deletes it when the JVM has exited.

The last line of stdout is the result object:
    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).

    python3 perfbench/run.py --selftest     # the harness's own tests
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
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(STATE, "classpath.txt")
WORKLOADS = ("scan", "ingest", "vector", "curate")
RESULT_TAG = "PERFBENCH_RESULT "
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt(*tasks, timeout):
    """Run sbt offline in the harness's build (graft is its root project)."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    sbt_tmp = os.path.join(STATE, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp} -XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    return subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)


def classpath():
    """The cached runtime classpath, rebuilt when any build input changed."""
    fp = source_fingerprint()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    os.makedirs(STATE, exist_ok=True)
    print("perfbench: building graft and the harness with sbt ...", file=sys.stderr)
    p = sbt("compile", "export Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def heap_size():
    """JVM heap: a quarter of the machine's memory, within 2-4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(4, max(2, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def remove_stale_runs():
    """Delete run directories left by runs whose process is gone."""
    runs = os.path.join(STATE, "runs")
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def run(args):
    cp = classpath()
    remove_stale_runs()
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", run_dir,
            "--out", os.path.join(STATE, "traces")]
    try:
        p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    results = [l[len(RESULT_TAG):] for l in p.stdout.splitlines() if l.startswith(RESULT_TAG)]
    if p.returncode != 0 or not results:
        fail(f"the harness exited with code {p.returncode} and no result")
    result = json.loads(results[-1])
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the harness's own tests")
    args = ap.parse_args()
    # a terminated run still stops its JVM (subprocess.run kills it on the
    # way out) and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    if args.selftest:
        p = sbt("test", timeout=BUILD_TIMEOUT_S)
        print(p.stdout[-6000:])
        sys.exit(p.returncode)
    if args.workload is None:
        fail("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
