#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's library sources (src/main/scala of the checkout) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
among the Spark jars, into <build dir>/graft-classes and
<build dir>/bench-classes. Each half is rebuilt only when a hash of its
inputs changes. Usage: python3 perfbench/build.py [build dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(sbt))
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("cannot find the Spark jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def read(path):
    with open(path) as fh:
        return fh.read()


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise SystemExit(f"compile failed ({rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir):
    """Returns the runtime classpath (bench, graft, graft resources, Spark)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src) or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no graft sources here: expected build.sbt and src/main/scala")
    os.makedirs(build_dir, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    log = os.path.join(build_dir, "build.log")
    graft_out = os.path.join(build_dir, "graft-classes")
    bench_out = os.path.join(build_dir, "bench-classes")
    g_src = sources(main_src)
    b_src = sources(os.path.join(HERE, "src"))
    g_key = digest(g_src)
    b_key = digest(b_src, g_key)
    for key, srcs, out, cp in ((g_key, g_src, graft_out, jars),
                               (b_key, b_src, bench_out, graft_out + os.pathsep + jars)):
        stamp = out + ".stamp"
        if os.path.exists(stamp) and read(stamp) == key and os.path.isdir(out):
            continue
        print(f"[build] compiling {len(srcs)} files -> {os.path.relpath(out, ROOT)}", file=sys.stderr)
        scalac(srcs, out, cp, log)
        with open(stamp, "w") as fh:
            fh.write(key)
    return os.pathsep.join([bench_out, graft_out, resources, jars])


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))))
