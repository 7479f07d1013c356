"""Builds the engine (src/main/scala) and the benchmark harness
(perfbench/harness) into one class directory with the Scala compiler that
ships with Spark, keyed by a hash of every source file, so a checkout
compiles once and later runs reuse the classes.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# what spark-submit adds for Spark on JDK 17 (the same list as build.sbt)
JVM_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def sources(root):
    files = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "harness")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure(root):
    """Compiles if the sources changed; returns the run classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".out", "build", h.hexdigest()[:16])
    jars = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    if not jars:
        sys.exit(f"perfbench: no Spark jars under {SPARK_JARS}")
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={out}", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-usejavacp", "-d", classes, *srcs],
                       check=True, stdout=sys.stderr)
        open(os.path.join(out, "done"), "w").close()
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(ensure(os.getcwd()))
