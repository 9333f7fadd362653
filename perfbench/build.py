"""Build file of the benchmark harness.

Compiles the engine's sources (`src/main/scala`) together with the
harness (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory -- the same jars `build.sbt` compiles against -- into
`.bench_build/perfbench/classes`. A stamp over the source contents
skips the compile when nothing changed.

Run standalone from the repository root: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root: str) -> str:
    """The jar directory build.sbt compiles against (its `unmanagedBase`)."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase jar directory in build.sbt")
    return m.group(1)


def sources(root: str):
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root: str, out: str) -> str:
    """Return the classes directory, compiling it if the sources changed."""
    engine = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + files
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build", "perfbench")))
