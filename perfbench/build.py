#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into .bench_build/classes-<hash>, where <hash>
covers every compiled file, so an unchanged tree is built once. Uses the
Scala compiler and the Spark jars of the Spark installation found through
SPARK_HOME or the spark-submit on PATH; nothing is downloaded.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_ROOTS = ("src/main/scala", "perfbench/src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no jars directory under {home}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    files = []
    for rel in SOURCE_ROOTS:
        d = os.path.join(root, rel)
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {rel}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Returns the classes directory, compiling it first if needed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-") for p in ("compiler", "library", "reflect")]
    compiler_cp = []
    for prefix in compiler:
        found = sorted(glob.glob(prefix + "*.jar"))
        if not found:
            raise SystemExit(f"build: no {os.path.basename(prefix)}*.jar in {jars}")
        compiler_cp.append(found[-1])
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler_cp),
           "scala.tools.nsc.Main", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "-nowarn"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
