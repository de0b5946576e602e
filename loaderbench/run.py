#!/usr/bin/env python3
"""The loader benchmark's one command.

    python3 loaderbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 loaderbench/run.py --selftest

Run from the repository root. It compiles the loader and the benchmark
(loaderbench/build.sh) into .bench_build/loaderbench when their sources
changed, runs one workload in a fresh JVM on local[nproc], and passes the
benchmark's output through: the last line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The exit code is non-zero
when the build fails, the run fails or the output is incorrect.
`--selftest` runs the generator test instead. All files a run writes live
under .bench_build/loaderbench and are removed when it ends, except the
build: the jar and the JVM's class-data sharing archive. The build dumps
that archive from one untimed sync of each workload (loaderbench.Prime);
runs map it, which shortens the cold JVM's start (the first set-up, which
no metric uses).
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "loaderbench")
BUILD = os.path.join(ROOT, ".bench_build", "loaderbench")
JAR = os.path.join(BUILD, "loaderbench.jar")
ARCHIVE = os.path.join(BUILD, "loaderbench.jsa")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("loaderbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "test")]
    files = [os.path.join(BENCH, "build.sh")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("loaderbench: no loader sources under src/main/scala; "
                 "run from the repository root")
    stamp = os.path.join(BUILD, "jar.sha256")
    digest = source_digest()
    if os.path.isfile(JAR) and os.path.isfile(ARCHIVE) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    rc = subprocess.run(["bash", os.path.join(BENCH, "build.sh"), JAR, jars],
                        stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"loaderbench: build failed ({rc})")
    work = os.path.join(BUILD, "work", f"prime-{os.getpid()}")
    os.makedirs(work)
    try:
        rc = java(jars, "loaderbench.Prime", [work], work, cds="dump",
                  stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        sys.exit(f"loaderbench: class-data sharing archive failed ({rc})")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")


def java(jars, main, args, work, cds=None, stdout=None):
    """Runs `main` in a fresh JVM. `cds` is "dump" to write the class-data
    sharing archive when the JVM exits, "use" to map it, or None."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # the JVM's own log lines go to stderr, so stdout's last line stays the result
    flags = ["-Xlog:disable", "-Xlog:all=warning,cds=error:stderr"]
    if cds == "dump":
        flags.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp")
    elif cds == "use":
        flags.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"] + opens + flags +
           ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), main] +
           args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=stdout)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"loaderbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if cds == "dump" and rc == 0 and os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # on SIGTERM, unwind through the `finally` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    build(jars)
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    os.makedirs(work)
    try:
        if a.selftest:
            rc = java(jars, "loaderbench.SingerGenTest", [work], work)
        else:
            rc = java(jars, "loaderbench.LoaderBench",
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace,
                       "--work", work], work, cds="use")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
