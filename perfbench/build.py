"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) with the
Scala compiler that ships among the Spark jars, and packs the classes
into .bench_build/bench-<stamp>.jar. The stamp is a hash over every
source file, so an unchanged tree skips the compile.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the program's own
    build.sbt `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME or unmanagedBase in build.sbt)")


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: missing source directory {root}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for s in sources():
        h.update(s.encode() + b"\0" + open(s, "rb").read())
    return h.hexdigest()[:16]


def jar_path():
    return os.path.join(BUILD_DIR, f"bench-{stamp()}.jar")


def classpath():
    return jar_path() + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    jar = jar_path()
    if os.path.exists(jar):
        return
    # jars and class-sharing archives of earlier sources
    for old in glob.glob(os.path.join(BUILD_DIR, "bench-*.jar")) + \
            glob.glob(os.path.join(BUILD_DIR, "cds-*.jsa")):
        os.remove(old)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", CLASSES] + sources()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    # a jar, not a directory, so the JVM can map the classes into a
    # class-data-sharing archive
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    os.replace(tmp, jar)


if __name__ == "__main__":
    build()
