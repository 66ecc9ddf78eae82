#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) into .bench_build/classes, with the Scala compiler
from the Spark distribution's jars: the same jars the repo's build.sbt puts
on the classpath (its `unmanagedBase`), found through SPARK_HOME. A digest of
the sources and the jar list is stamped beside the classes, so an unchanged
tree is not rebuilt.

Usage, from the repo root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")


class BuildError(Exception):
    pass


def jars_dir(root):
    """The directory the repo's build.sbt takes its jars from."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("SPARK_HOME is not set and build.sbt names no unmanagedBase")


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        path = os.path.join(root, d)
        if not os.path.isdir(path):
            raise BuildError(f"missing source directory {d}")
        for dirpath, _, files in os.walk(path):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(root):
    jars = sorted(glob.glob(os.path.join(jars_dir(root), "*.jar")))
    if not jars:
        raise BuildError(f"no jars in {jars_dir(root)}")
    return jars


def ensure_built(root):
    """Compiles if the stamped digest is stale; returns (classes dir, digest)."""
    srcs = sources(root)
    jars = classpath(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        h.update(open(p, "rb").read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(classes, ".source_sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("scala compiler, library and reflect jars not found")
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging, "-classpath", ":".join(jars),
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac exited with {proc.returncode}")
    with open(os.path.join(staging, ".source_sha256"), "w") as f:
        f.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    return classes, digest


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd())[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
