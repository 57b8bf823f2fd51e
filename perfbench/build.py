"""Build file of the benchmark.

Compiles the program's sources (``src/main/scala`` plus its resources) and
the benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships among the Spark jars, so the build needs neither sbt nor a network.
Outputs go to ``.bench_build/`` in the checkout; a stamp of the source
contents lets later runs skip the compile.

    python3 perfbench/build.py          # build (no-op when up to date)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
MAIN_SRC = os.path.join("src", "main", "scala")
MAIN_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")

# Spark on JDK 17 needs these when a SparkSession is created outside
# spark-submit; the same list build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the directory the
    main build declares as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources(root, ext=".scala"):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed for " + out)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile what is stale; return the runtime classpath."""
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit("build: no program sources at " + MAIN_SRC +
                         " (run from the repository root)")
    jars = os.path.join(spark_jars(), "*")
    main_out = os.path.join(BUILD_DIR, "main")
    bench_out = os.path.join(BUILD_DIR, "bench")
    main_srcs = sources(MAIN_SRC)
    res = sources(MAIN_RES, "") if os.path.isdir(MAIN_RES) else []
    main_stamp = stamp(main_srcs + res)
    bench_stamp = stamp(sources(BENCH_SRC)) + main_stamp
    os.makedirs(BUILD_DIR, exist_ok=True)

    def fresh(out, want):
        try:
            with open(out + ".stamp") as f:
                return f.read() == want and os.path.isdir(out)
        except OSError:
            return False

    if not fresh(main_out, main_stamp):
        scalac(main_srcs, main_out, jars)
        for r in res:
            dst = os.path.join(main_out, os.path.relpath(r, MAIN_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        with open(main_out + ".stamp", "w") as f:
            f.write(main_stamp)
    if not fresh(bench_out, bench_stamp):
        scalac(sources(BENCH_SRC), bench_out,
               os.pathsep.join([main_out, jars]))
        with open(bench_out + ".stamp", "w") as f:
            f.write(bench_stamp)
    return os.pathsep.join([bench_out, main_out, jars])


if __name__ == "__main__":
    print(build())
