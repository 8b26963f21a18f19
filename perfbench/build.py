"""Build file of the benchmark harness.

Compiles the program (``src/main/scala``) and the harness
(``perfbench/harness/src``) with the Scala compiler that ships in the Spark
distribution, into ``.bench_build/classes`` at the root of the checkout.  The
build is skipped when a stamp of every source file matches the last build.
Run it directly (``python3 perfbench/build.py``) or let ``run.py`` call it.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "harness", "src")]


def spark_jars():
    """The Spark jars the program's own build compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`.
    """
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("no Spark jars: set SPARK_HOME")


SCALA = "2.13.17"
# Spark on JDK 17 needs these opens when the session starts outside
# spark-submit; the same list as the program's own build.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}:{spark_jars()}/*"


def build(log=sys.stderr):
    """Compile if any source changed; returns the runtime classpath."""
    files = sources()
    if not os.path.isdir(SOURCE_DIRS[0]) or not files:
        raise SystemExit("no program sources to build: "
                         "run from the root of a checkout")
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars()
    compiler = ":".join(f"{jars}/scala-{n}-{SCALA}.jar"
                        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", f"{jars}/*",
           f"@{argfile}"]
    print(f"building {len(files)} sources into {CLASSES}", file=log)
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit(f"build failed ({res.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    build()
