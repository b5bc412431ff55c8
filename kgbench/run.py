#!/usr/bin/env python3
"""Build and run the KG-pipeline benchmark.

    python3 kgbench/run.py --workload crawl-bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine (the
enclosing repository) and the benchmark with sbt, packs the compiled
classes into jars and records a JVM class-data archive under
`.bench_build/`; later runs reuse them until a source file changes. The
benchmark then runs in one JVM, and its last stdout line is the JSON result.
Exits non-zero, without a result, when the engine sources are missing, the
build fails, an output check fails or the run overruns.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java_cmd():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [exe] + flags + [
        "-Xmx2g",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
    ]


def child_env():
    env = dict(os.environ)
    # Spark would put its scratch space there instead of inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        files = []
        if os.path.isfile(top):
            files = [top]
        else:
            for d, dirs, fs in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x != "target")
                files += [os.path.join(d, f) for f in fs]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    h.update(subprocess.run(java_cmd()[:1] + ["-version"], capture_output=True).stderr)
    return h.hexdigest()


def jar_dir(src, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, fs in os.walk(src):
            dirs.sort()
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src))


def build():
    """Compile if any source changed; return the run classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    sys.stderr.write("kgbench: building the engine and the benchmark\n")
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, capture_output=True, text=True,
                         timeout=BUILD_TIMEOUT_S, env=child_env())
    lines = [l for l in res.stdout.splitlines() if l.startswith("/")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit("kgbench: build failed")
    jars = os.path.join(BUILD, "jars")
    os.makedirs(jars, exist_ok=True)
    cp = []
    for i, entry in enumerate(lines[-1].split(":")):
        if os.path.isdir(entry):
            dest = os.path.join(jars, "%02d-classes.jar" % i)
            jar_dir(entry, dest)
            cp.append(dest)
        else:
            cp.append(entry)
    classpath = ":".join(cp)
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    # record the classes a short engine run loads; runs start from it. On a
    # 4-core VM one dup-link run took 75 s with the archive and 111 s
    # without it (set-up wall 35 s against 54 s): most of a run is cold
    # class loading and code generation. A run records the archive it was
    # started with in its detail line.
    subprocess.run(java_cmd() + ["-XX:ArchiveClassesAtExit=" + archive, "-cp", classpath,
                                 "kgbench.ClassWarm", os.path.join(BUILD, "classwarm")],
                   capture_output=True, timeout=BUILD_TIMEOUT_S, env=child_env(), cwd=ROOT)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write("kgbench: the engine sources (src/main/scala/graft) are not "
                         "next to kgbench/; run from the root of a full checkout\n")
        return 2
    classpath = build()
    cmd = java_cmd()
    archive = os.path.join(BUILD, "classes.jsa")
    args = []
    if os.path.exists(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
        args = ["--class-archive", os.path.relpath(archive, ROOT)]
    cmd += ["-cp", classpath, "kgbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", os.path.join(BUILD, "work")] + args
    try:
        return subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S, env=child_env()).returncode or 0
    except subprocess.TimeoutExpired:
        sys.stderr.write("kgbench: run exceeded %d s\n" % RUN_TIMEOUT_S)
        return 3


if __name__ == "__main__":
    sys.exit(main())
