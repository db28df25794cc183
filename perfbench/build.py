#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in
Spark's jars directory, the same jars the program runs on. Everything is
written under .bench_build/perfbench/ in the checkout; a build is reused
while no source file changes.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
BENCH_RES = os.path.join(BENCH, "resources")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: %s" % os.path.relpath(ENGINE_SRC, ROOT))
    srcs = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    if not srcs:
        raise BuildError("no Scala sources found")
    return srcs


def classpath(classes):
    """Runtime classpath: compiled classes, resources, Spark's jars."""
    return os.pathsep.join([classes, ENGINE_RES, BENCH_RES, os.path.join(spark_jars(), "*")])


def build():
    """Compiles if needed and returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac exited with %d" % res.returncode)
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.exists(classes):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
