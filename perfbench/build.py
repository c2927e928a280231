"""Build file of the benchmark: compiles the program's sources together
with the benchmark's own JVM sources into one class directory.

    python3 perfbench/build.py        # from the root of a checkout

It runs the Scala compiler that ships with Spark directly, so it needs
neither sbt nor network access. The Spark jars are those the project's
build.sbt names as `unmanagedBase` (or `$SPARK_HOME/jars` when set).
The output lands in `.bench_build/classes`; a stamp of every source's
content makes a second call a no-op until a source changes.
"""
import glob
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


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def sources():
    program = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True)
    bench = glob.glob(os.path.join(ROOT, "perfbench", "scala", "**", "*.scala"),
                      recursive=True)
    if not program:
        raise SystemExit(f"build: no program sources under {ROOT}/src/main/scala")
    return sorted(program) + sorted(bench)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build():
    """Compile if any source changed; returns the runtime classpath."""
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
