"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships with Spark (the jars build.sbt compiles against), into
`.bench_build/perfbench/classes`.

A build is skipped when the sources and the Spark install have not changed
since the last one (a hash of both is kept next to the classes).

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
JAVA_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` directory
    the repository's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    sys.exit(f"perfbench: no Spark jars in {candidates or 'any place'} (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath():
    """Runtime classpath: the built classes, then every Spark jar."""
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
