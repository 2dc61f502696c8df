#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's sources together
with the harness sources in this directory into one class directory.

It calls the Scala 2.13 compiler that ships with the Spark jars directly,
so the build needs no build tool and writes nothing outside the checkout.
The output is reused while the hash of every input source is unchanged.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH_DIR, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, else the one
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise FileNotFoundError("Spark installation (SPARK_HOME or spark-submit on PATH) not found")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources():
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles if needed and returns the class directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise FileNotFoundError("graft sources (src/main/scala/graft) not found")
    jars = spark_jars()
    srcs = _sources()
    resources = []
    for dirpath, _, files in os.walk(RESOURCES):
        resources += [os.path.join(dirpath, f) for f in files]
    digest = _digest(srcs + sorted(resources))
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"compiling {len(srcs)} Scala sources into {classes}", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log.write(r.stdout[-8000:])
        raise RuntimeError("compilation failed")
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except (FileNotFoundError, RuntimeError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
