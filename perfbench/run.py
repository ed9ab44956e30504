#!/usr/bin/env python3
"""graft benchmark: CDC replica freshness and backlog apply beside reads, corpus curation.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload cdc_replica --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, runs one workload in a fresh JVM, and prints
as its last line a JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
The full result, with input properties, checks and an environment stamp, is
kept under perfbench/out/results/. Exits non-zero when an output check fails
or the run cannot complete.
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
OUT = os.path.join(HERE, "out")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(OUT, "build.stamp")
CDS = os.path.join(OUT, "classes.jsa")
WORKLOADS = ["cdc_replica", "corpus_curation"]
RUN_TIMEOUT_S = 170
# a first run, build included, must end within 900 s
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input to the build: engine sources and the benchmark's."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation that spark-submit on PATH is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("[perfbench] Spark not found: set SPARK_HOME")
    return home


def build(stamp):
    """Compile and package when the sources changed."""
    if os.path.isfile(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    log("building engine + benchmark with sbt")
    for p in (STAMP, CDS):
        if os.path.exists(p):
            os.remove(p)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(OUT, "build.log"), "w") as logf:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                         HERE, env, logf, BUILD_TIMEOUT_S)
    if rc != 0:
        raise SystemExit(f"[perfbench] build failed (rc={rc}), see {OUT}/build.log")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_bounded(cmd, cwd, env, logf, timeout):
    """Run `cmd` in its own process group; kill the group on timeout, and
    when this script is terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def kill_group():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill_group()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        kill_group()  # nothing the run started may outlive it
        for s, h in handlers.items():
            signal.signal(s, h)


def heap_mb():
    """A quarter of host memory, between 2 and 8 GiB."""
    total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(2048, min(8192, total_kb // 4096))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_workload(workload, seed, seconds, trace, stamp, deadline):
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    result = os.path.join(OUT, "results", f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    heap = heap_mb()
    # The first run after a build records a class-data sharing archive as it
    # exits; every later JVM maps it instead of loading and verifying
    # Spark's classes one by one (JVM plus session start 6.8 s -> 3.4 s).
    jvm_opts = [f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS)
                else f"-XX:ArchiveClassesAtExit={CDS}"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           jvm_opts +
           [f"-Xmx{heap}m", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{JAR}:{spark_home()}/jars/*", "graftbench.Main",
            workload, str(seed), str(seconds), str(trace), work, result])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir under work/
    t0 = time.time()
    with open(os.path.join(OUT, "logs", f"{tag}.log"), "w") as logf:
        rc = run_bounded(cmd, ROOT, env, logf, max(10, deadline - time.time()))
    wall = time.time() - t0
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"[perfbench] {workload} run failed (rc={rc}), see {OUT}/logs/{tag}.log")
    with open(result) as f:
        doc = json.load(f)
    doc["env"].update({"git_commit": git_commit(), "source_sha256": stamp,
                       "heap_mb": heap, "run_wall_s": wall})
    with open(result, "w") as f:
        json.dump(doc, f, indent=1)
    return doc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no engine sources under {ROOT}/src/main/scala; run from a source checkout")
        return 2
    os.makedirs(OUT, exist_ok=True)
    stamp = source_hash()
    build(stamp)
    ok = True
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        doc = run_workload(w, a.seed, a.seconds, a.trace, stamp, time.time() + RUN_TIMEOUT_S)
        metrics = doc["per_layer" if a.trace else "end_to_end"]
        line = {"correct": doc["correct"], "attempted": doc["attempted"],
                "failed": doc["failed"], "metrics": metrics}
        if a.workload == "all":
            line = {"workload": w, **line}
        print(json.dumps(line), flush=True)
        ok = ok and doc["correct"]
        if not doc["correct"]:
            log(f"{w}: output checks failed: {doc['notes'].get('failed_checks')}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
