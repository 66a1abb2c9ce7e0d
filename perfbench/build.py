"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/scala) into
.bench_build/classes with the Scala compiler that ships with Spark.

The build is skipped when a stamp of every source file's content matches
the last successful build. Run directly with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
JDK_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """Directory of the Spark distribution's jars (the compiler included):
    $SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main", "scala")) for f in files):
        raise SystemExit("build: src/main/scala has no sources to benchmark")
    jars = os.path.join(spark_jars(), "*")
    stamp = stamp_of(files)
    current = open(STAMP).read() if os.path.exists(STAMP) else None
    if current != stamp:
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                            "-nowarn", "-d", CLASSES, "-classpath", jars] + files,
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            raise SystemExit("build: scalac failed")
        with open(STAMP, "w") as f:
            f.write(stamp)
    return CLASSES + os.pathsep + jars


if __name__ == "__main__":
    print(build())
