"""Build file of the benchmark: compiles the repository's main sources
together with the harness under perfbench/src into .bench_build/perfbench,
with the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # from the repository root

A build is skipped when the sources' digest matches the last build's.
"""

import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """$SPARK_HOME/jars: the program and this build both need Spark's jars,
    which carry the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars!r}; "
                         "set SPARK_HOME")
    return jars


def sources():
    files = sorted(p for d in SOURCE_DIRS
                   for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(p.startswith(SOURCE_DIRS[0]) for p in files):
        raise SystemExit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    return files


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; returns the class directory."""
    files = sources()
    digest = hashlib.sha256()
    for p in files:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    os.makedirs(OUT, exist_ok=True)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                         "scala.tools.nsc.Main",
                         "-nowarn", "-d", classes, "-cp", jars, "@" + argfile],
                        stdout=sys.stderr, timeout=800).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (scalac exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
