#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <weekly_refresh|query_suite> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. The JVM gets the host's core
count as local[N] and half its memory as heap (2 to 8 GB), as the tier-1
test command does. Everything a run writes stays under perfbench/work,
and the run's own working directory is removed when it ends.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. The line before it is the run record:
host settings, seed, input sizes, set-up phases and any failures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "work", "build")
CORPUS = os.path.join(HERE, "corpus", "sf0.001")
WORKLOADS = ("weekly_refresh", "query_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Same module opens as the engine build's forked `run` (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, engine and benchmark, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def host_nproc():
    return len(os.sched_getaffinity(0))


def host_heap():
    """Half of MemTotal in whole GB, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm(heap, cp, work, extra=()):
    """The benchmark JVM's command line up to the main class."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g", *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", cp])


def jvm_env(nproc, work):
    return dict(os.environ, SPARK_GRAFT_MASTER=f"local[{nproc}]",
                SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))


def jar_dirs(cp):
    """Class directories on `cp` packed as jars: a class-data archive
    only takes classes from jars."""
    out = []
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in sorted(os.walk(entry)):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            out.append(jar)
        else:
            out.append(entry)
    return os.pathsep.join(out)


def build(stamp, nproc, heap):
    """Compile engine and benchmark; return the runtime classpath and the
    class-data archive (None if it could not be made)."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            if fh.read() == stamp:
                return fc.read(), archive if os.path.exists(archive) else None
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    cp = jar_dirs(lines[-1].strip())
    # Archive the classes one warm-up of each workload loads, so every run
    # starts its JVM and Spark session faster (Java class-data sharing).
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(BUILD, "load-classes")
    try:
        subprocess.run(jvm(heap, cp, work, [f"-XX:ArchiveClassesAtExit={archive}"])
                       + ["perfbench.Main", "--load-classes", work, CORPUS],
                       cwd=ROOT, env=jvm_env(nproc, work), stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                       timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as fc:
        fc.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, archive if os.path.exists(archive) else None


def commit(stamp):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"sources-sha256:{stamp[:16]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found: {need} is missing next to perfbench/")

    stamp = source_stamp()
    nproc, heap = host_nproc(), host_heap()
    cp, archive = build(stamp, nproc, heap)
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    run_info = json.dumps({"commit": commit(stamp), "nproc": nproc, "heap": heap,
                           "seed": a.seed, "workload": a.workload,
                           "class_archive": archive is not None})
    extra = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    cmd = (jvm(heap, cp, work, extra)
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--corpus", CORPUS, "--digests", os.path.join(HERE, "expected", "query_digests.tsv"),
              "--run-info", run_info])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(nproc, work), stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("benchmark JVM printed a malformed result")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
