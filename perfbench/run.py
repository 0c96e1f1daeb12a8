#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline) and caches the classpath
under perfbench/target/, keyed by a hash of every source and build
file; later runs start the JVM directly. The harness prints its result
as the last stdout line; build and Spark logs go to stderr. Exits
non-zero when the program's sources are missing, the build fails, an op
fails or an output check does not hold.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")

# Spark on JDK 17 outside spark-submit, as in the program's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
BUILD_TIMEOUT_S = 850


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, program and harness."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        files += [os.path.join(ROOT, f), os.path.join(HERE, f)]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(current):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building the program and the harness (sbt, offline)")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        log("build failed")
        sys.exit(2)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as fh:
        fh.write(current)


def classpath():
    current = stamp()
    fresh = (os.path.isfile(STAMP_FILE) and os.path.isfile(CLASSPATH_FILE)
             and open(STAMP_FILE).read() == current)
    if fresh:
        cp = open(CLASSPATH_FILE).read().strip()
        fresh = all(os.path.exists(p) for p in cp.split(os.pathsep))
    if not fresh:
        build(current)
    return open(CLASSPATH_FILE).read().strip()


def main(argv):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the program's sources (build.sbt, src/main/scala/graft) are not in "
            + ROOT + "; run from the root of a checkout")
        return 2
    cp = classpath()
    tmp = os.path.join(HERE, "work", "tmp-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx" + HEAP,
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-Djava.io.tmpdir=" + tmp,
              "-Dperfbench.dir=" + HERE,
              "-cp", cp, "perfbench.Main"] + argv)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        proc.terminate()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
