"""Build file of the benchmark: compiles the engine's sources
(``src/main/scala``) together with the benchmark's JVM program
(``perfbench/scala``) into ``.bench_build/classes``.

It calls the Scala 2.13 compiler that ships with Spark's jars directly,
so the build needs neither sbt nor a network. The jars are those the
engine's own build uses: the ``unmanagedBase`` directory of
``build.sbt``. A build is reused while the hash of every source file
stays the same.

Usage: ``python3 perfbench/build.py`` from the repository root.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]

# JDK 17 module openings Spark needs outside spark-submit (the same list
# as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise SystemExit("missing %s" % sbt)
    with open(sbt) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(found.group(1), "*.jar")))
    if not jars:
        raise SystemExit("no jars in %s" % found.group(1))
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit("missing source directory %s" % d)
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build():
    """Compiles when the sources changed; returns the run classpath."""
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = os.path.join(OUT, "tmp")
    for d in (CLASSES, tmp):
        subprocess.run(["rm", "-rf", d], check=True)
        os.makedirs(d)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", CLASSES,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit("compile failed (exit %d)" % proc.returncode)
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    build()
    print(CLASSES)
