"""Build file of the benchmark harness.

Compiles the program's sources (`src/main/scala` at the repository root)
together with `perfbench/harness/*.scala` into `perfbench/.build/`, with
the Scala compiler that ships in the Spark distribution. The root sbt
build is not used and not touched. A build is reused while the sha256 of
every source file is unchanged.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")

# Spark on JDK 17 outside spark-submit (the root build.sbt passes the same)
JAVA_OPENS = [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def _sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    srcs = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    if not srcs:
        raise BuildError("no Scala sources")
    return srcs


def _jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars in {SPARK_JARS}")
    return jars


def classpath():
    """Runtime classpath of a built harness."""
    return os.pathsep.join([os.path.join(BUILD, "classes")] + _jars())


def ensure_built(log=sys.stderr):
    """Compile unless the stamp matches the current sources; returns the
    seconds spent building (0 when the build was reused)."""
    srcs, jars = _sources(), _jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    import time
    t0 = time.monotonic()
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.monotonic() - t0


if __name__ == "__main__":
    try:
        print(f"built in {ensure_built():.1f}s")
    except BuildError as e:
        sys.exit(f"build failed: {e}")
