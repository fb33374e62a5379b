#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark driver (perfbench/src) with the Scala compiler that ships
in Spark's jars, the same jars build.sbt compiles against.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)

The classes land in <build_dir>/classes. A stamp holds a hash of every
source, so an unchanged tree is not compiled again.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def spark_classpath():
    return os.path.join(spark_jars(), "*")


def sources():
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    classes = os.path.join(build_dir, "classes")
    stamp = classes + ".stamp"
    want = source_hash(srcs)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", spark_classpath(), "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(os.path.join(ROOT, out)))
