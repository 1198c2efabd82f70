#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the library (`src/main/scala` at the repository root) together
with the benchmark's own Scala sources (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution and packs the classes into
`.bench_build/bench-<hash>.jar`. The hash covers every source file: an
unchanged tree reuses its build, a changed one rebuilds. Run it alone
with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")

# JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Jars of the Spark install: $SPARK_HOME, else the first install
    with a Scala compiler whose spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark install with a Scala compiler; set SPARK_HOME")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit(f"build: library sources missing at {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    return files


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(jar, work, args):
    """The benchmark JVM command line."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main", "--work", work, "--launch-ms",
            repr(time.time() * 1000.0)] + args
    return cmd


def compile_jar(files, jar):
    classes = jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "@" + argfile]
    print(f"build: compiling {len(files)} files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)


def ensure():
    """Return the jar of the current sources, building it first when no
    up-to-date build exists."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stem = os.path.join(BUILD_DIR, "bench-" + h.hexdigest()[:16])
    jar = stem + ".jar"
    if os.path.exists(jar):
        return jar
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "bench-*")):
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.remove(old)
    compile_jar(files, jar)
    return jar


if __name__ == "__main__":
    print(ensure())
