#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's library sources (src/main/scala) together with the
benchmark harness (perfbench/src) and its self-checks (perfbench/test) with
the Scala compiler that ships in the Spark distribution ($SPARK_HOME, or the
one spark-submit on the PATH belongs to) and copies graft's resources next
to the classes. Everything lands under `.bench_build/` at the checkout root
(or under $CARGO_TARGET_DIR when that is set). A stamp of the input hashes
makes a second call a no-op. The input tables are not built: they are the
parquet files in perfbench/data.

Usage: python3 perfbench/build.py [--force]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark distribution with a Scala compiler at '{jars}' "
                 "(set SPARK_HOME)")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        sys.exit(f"build: graft sources not found under {lib}")
    files = []
    for d in (lib, os.path.join(HERE, "src"), os.path.join(HERE, "test")):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stale(stamp, key):
    try:
        with open(stamp) as f:
            return f.read() != key
    except OSError:
        return True


def build_classes(out, jars, srcs, force):
    res = os.path.join(ROOT, "src", "main", "resources")
    res_files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(res) for f in fs)
    key = digest(srcs + res_files)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if not force and not stale(stamp, key):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def data_dir():
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        sys.exit(f"build: input tables not found under {DATA}")
    return DATA


def build(force=False):
    """Returns (classes dir, table dir, spark jars dir)."""
    jars = spark_jars()
    srcs = sources()
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    return build_classes(out, jars, srcs, force), data_dir(), jars


if __name__ == "__main__":
    print("\n".join(build(force="--force" in sys.argv[1:])))
