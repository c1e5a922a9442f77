#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark sources (perfbench/src) with
the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # prints the build directory

Output goes to .bench_build/build-<fingerprint>/ in the checkout; a
directory whose _BUILD_OK marker is missing is rebuilt, so an interrupted
build is never used. The fingerprint covers every source file, so a
changed engine or benchmark rebuilds and an unchanged one is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars shipped inside the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark jars directory: set SPARK_HOME to a Spark distribution")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found: {os.path.relpath(ENGINE_SRC, ROOT)}/ "
                         "(run from the root of a full checkout)")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode() + b"\0")
    h.update(" ".join(sorted(f for f in os.listdir(jars) if f.startswith("scala-"))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb():
    """A quarter of the host's memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def jvm(out, jars):
    """The java command line of a benchmark run, up to the main class."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.path.join(out, "classes") + os.pathsep + os.path.join(jars, "*")]


def build():
    """Returns (build_dir, jars_dir, fingerprint, fresh)."""
    jars = spark_jars()
    files = sources()
    fp = fingerprint(files, jars)
    out = os.path.join(BUILD, "build-" + fp[:16])
    if os.path.exists(os.path.join(out, "_BUILD_OK")):
        return out, jars, fp, False
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    open(os.path.join(out, "_BUILD_OK"), "w").close()
    return out, jars, fp, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
