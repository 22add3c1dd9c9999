#!/usr/bin/env python3
"""Fleet-ETL benchmark command.

    python3 fleetbench/run.py --workload fleet_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first call builds
the library together with the benchmark harness (sbt, offline, into
fleetbench/target) and records the runtime classpath; later calls reuse
it while the sources are unchanged. Each run then starts its own JVM on
that classpath, with a fixed heap, so no build tool is resident while a
workload is measured. The last line of standard output is the JSON
result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fleet_trickle", "restore_incident", "backfill_retention")
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def sources_digest():
    """Hash of every input of the build, so a stale classpath is rebuilt."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp = os.path.join(target, "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "writeClasspath"]
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=840)
    if res.returncode != 0 or not os.path.exists(cp_file):
        sys.exit("fleetbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cf:
        return cf.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("fleetbench: run from a checkout that holds the library sources")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        sys.exit("fleetbench: java and sbt are required")
    classpath = build()
    work = os.path.join(HERE, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Two task threads, and the JVM sized to two processors (GC and JIT
    # threads too): the host's few cores are shared, and every thread past
    # what the run needs makes its timings follow the scheduler. The ops
    # move small data, so more task threads would not shorten them.
    cpus = min(2, os.cpu_count() or 1)
    java = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
            "-XX:ActiveProcessorCount=%d" % cpus, "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.callstack.depth=200"]
    for p in ADD_OPENS:
        java += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    java += ["-cp", classpath, "fleetbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    proc = subprocess.Popen(java, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(os.path.join(work, "run-%s-%d" % (args.workload, args.seed)),
                      ignore_errors=True)
        sys.exit("fleetbench: run timed out")
    lines = [l for l in out.decode().splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.exit("fleetbench: run failed (exit %d)" % proc.returncode)
    print(lines[-1])


if __name__ == "__main__":
    main()
