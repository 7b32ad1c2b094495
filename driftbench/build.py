"""Build file of the drift-diff benchmark.

Compiles the program (`src/main/scala`) and the harness (`driftbench/scala`)
in one pass with the Scala compiler that ships in the Spark distribution,
against the Spark jars. The class directory is reused while no source file
changes.

Usage: python3 driftbench/build.py   (from the root of a checkout)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"
COMPILER = [f"{SPARK_JARS}/scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect")]


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit(f"no program sources under {root}/src/main/scala; "
                         "run from the root of a full checkout")
    return prog + sorted(glob.glob(os.path.join(root, "driftbench/scala/*.scala")))


def build(root, build_dir):
    """Return the class directory for the current sources, compiling if needed."""
    files = sources(root)
    key = hashlib.sha256(SCALA.encode())
    for f in files:
        key.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            key.update(fh.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.isfile(stamp) and open(stamp).read() == key.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", ":".join(COMPILER), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{SPARK_JARS}/*", "-d", classes] + files
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise SystemExit(f"compile failed with exit code {res.returncode}")
    with open(stamp, "w") as fh:
        fh.write(key.hexdigest())
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build")))
