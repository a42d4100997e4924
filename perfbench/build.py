#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala` of the checkout) together with the harness
(`perfbench/src`) into `perfbench/.build/perfbench.jar`, using the Scala
compiler that ships in the Spark distribution's `jars/` directory.

The jar (not a class directory) lets `run.py` keep a JVM class-data
archive (`.build/app.jsa`, written by the first run after a build) that
cuts class loading in every later run.

Usage: python3 perfbench/build.py     (from the checkout root)

The build is skipped when no source file changed since the last one."""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
STAMP = os.path.join(BUILD, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars} (set SPARK_HOME)")
    return jars


def classpath():
    return f"{JAR}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure():
    """Compiles if needed; returns the runtime classpath."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: engine sources not found at {SOURCE_DIRS[0]}")
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    os.makedirs(BUILD, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    out = tempfile.mkdtemp(prefix="classes.", dir=BUILD)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars, f"@{args}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit(f"perfbench: compile failed ({p.returncode})")
        with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for base, _, names in os.walk(out):
                for n in sorted(names):
                    z.write(os.path.join(base, n), os.path.relpath(os.path.join(base, n), out))
        os.replace(JAR + ".tmp", JAR)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    print(ensure())
