#!/usr/bin/env python3
"""Run one workload of the KG benchmark and print its result.

Usage, from the root of a checkout:
    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (offline) the
first time, or whenever a source file changed, then runs kgbench.Main
in one JVM at local[<cpus>]. The build ends with one class-loading pass
over every workload (kgbench.Train) that writes a JVM class-data
archive, and every run starts from that archive. Everything it writes
goes under .bench_build/ in the checkout. The last stdout line is the
result JSON:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
BENCH = "kgbench"
SOURCES = ["src/main/scala", BENCH + "/src", BENCH + "/build.sbt",
           BENCH + "/project/build.properties"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
ARCHIVE = os.path.abspath(os.path.join(BUILD, "classes.jsa"))
BUILD_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170


def fail(msg):
    print("kgbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for root in SOURCES:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Runs cmd to completion. On timeout, or when this script is told
    to stop, kills it and waits for it."""
    proc = subprocess.Popen(cmd, **kw)

    def stop(signum, _frame):
        proc.kill()
        proc.communicate()
        fail("stopped by signal %d" % signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail("%s timed out after %d s" % (cmd[0], timeout))
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_DFL)
    return proc.returncode, out


def java(cp, main, args, archive_flag):
    """The JVM command line of every benchmark JVM."""
    return (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
            ["-Xmx3g", "-Xlog:cds=off", archive_flag,
             "-Djava.io.tmpdir=" + os.path.abspath(os.path.join(BUILD, "tmp")),
             "-cp", cp, main] + args)


def jar_classes(cp):
    """A class-data archive takes only jars on the classpath, so each
    directory entry (the compiled classes) is zipped into a jar."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.abspath(os.path.join(BUILD, "classes-%d.jar" % i))
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def build():
    """Compiles once per source digest and writes the class-data archive;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = source_digest()
    if all(os.path.exists(p) for p in (stamp, cp_file, ARCHIVE)):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                    cwd=BENCH, env=env, stdout=subprocess.PIPE,
                    stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = jar_classes(
        [l for l in out.splitlines() if l.startswith("/")][-1].strip())
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log = open(os.path.join(BUILD, "train.log"), "w")
    code, _ = run(java(cp, "kgbench.Train", [],
                       "-XX:ArchiveClassesAtExit=" + ARCHIVE),
                  TRAIN_TIMEOUT_S, stdout=log, stderr=log,
                  stdin=subprocess.DEVNULL)
    log.close()
    if code != 0 or not os.path.exists(ARCHIVE):
        with open(os.path.join(BUILD, "train.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("class-loading pass failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft"):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cmd = java(cp, "kgbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace],
               "-XX:SharedArchiveFile=" + ARCHIVE)
    log = open(os.path.join(BUILD, "jvm.log"), "w")
    code, out = run(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE, stderr=log,
                    stdin=subprocess.DEVNULL, text=True)
    log.close()
    lines = out.splitlines()
    results = [l for l in lines if l.startswith("KGBENCH_RESULT ")]
    if code != 0 or not results:
        with open(os.path.join(BUILD, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("benchmark JVM exited with code %d" % code)
    for l in lines:
        if not l.startswith("KGBENCH_RESULT "):
            print(l)
    result = json.loads(results[-1][len("KGBENCH_RESULT "):])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
