#!/usr/bin/env python3
"""Builds graft's main sources and the benchmark runner into one class
directory with the Scala compiler that ships in the Spark jars.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when the class directory was built from the same
sources. Output goes to .perfbench/build/ under the repository root."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]
# service registrations (graft's data sources) ship beside the classes
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def spark_jars():
    """The Spark jars directory (Scala compiler included) that the root
    build.sbt compiles graft against, as a class-path wildcard."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: build.sbt sets no unmanagedBase")
    return os.path.join(m.group(1), "*")


def classpath():
    """Runtime class path: the built classes plus the Spark jars."""
    return CLASSES + os.pathsep + spark_jars()


def build():
    files = sources()
    resources = sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True))
    resources = [r for r in resources if os.path.isfile(r)]
    h = hashlib.sha256()
    for f in files + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for r in resources:
        dst = os.path.join(CLASSES, os.path.relpath(r, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
