#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. The JVM heap is sized
from /proc/meminfo (half of MemTotal, clamped to 2-8 GiB) and Spark uses
one core per CPU. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --test     # the benchmark's own test suite
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
SBT_OPTS = [
    "-Dsbt.override.build.repos=true",
    "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
    "-Dsbt.offline=true",
    "-Dsbt.server.autostart=false",
    "-Dsbt.log.noformat=true",
    "-Dsbt.supershell=false",
]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def heap_gb():
    """Half of MemTotal in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    return 2


def source_hash():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def spark_home():
    """SPARK_HOME, or the installation whose bin/ holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to the Spark installation to build against")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def sbt(*tasks, timeout):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-J-Xmx3g"] + SBT_OPTS + list(tasks)
    return subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                          timeout=timeout)


def classpath(src_hash):
    """Build once per source tree; the classpath is cached next to the hash."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved_hash, cp = f.read().split("\n", 1)
        if saved_hash == src_hash:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    out = sbt("compile", "export Runtime/fullClasspath", timeout=700)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(src_hash + "\n" + cp + "\n")
    return cp


def main(argv):
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("no program sources under src/main/scala; run from the root of a checkout")
    if argv[:1] == ["--test"]:
        out = sbt("test", timeout=1800)
        sys.stdout.write(out.stdout)
        sys.exit(out.returncode)
    opts = dict(zip(argv[0::2], argv[1::2]))
    for k in ("--workload", "--seed", "--seconds", "--trace"):
        if k not in opts:
            fail("missing " + k)
    src_hash = source_hash()
    cp = classpath(src_hash)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx%dg" % heap_gb(), "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dperfbench.t0ms=%d" % int(time.time() * 1000), "-Dperfbench.dir=" + BUILD,
           "-Dperfbench.git=" + git_sha(), "-Dperfbench.src=" + src_hash]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    try:
        out, err = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out")
    sys.stderr.write(err[-20000:])
    if proc.returncode != 0:
        fail("benchmark JVM exited with %d" % proc.returncode)
    sys.stdout.write(out)


if __name__ == "__main__":
    main(sys.argv[1:])
