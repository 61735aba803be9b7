#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark sources (perfbench/src) with the Scala compiler that ships
among the Spark jars, against those jars. Needs no sbt and writes only
under <repo>/.bench_build/<hash of the sources>/, so a build is reused
until a source changes.

    python3 perfbench/build.py        # prints the class path to run with
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else the `unmanagedBase` that
    the engine's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or declare unmanagedBase in build.sbt")


def sources(base, ext=".scala"):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    compiler = [j for n in ("scala-compiler", "scala-library", "scala-reflect")
                for j in glob.glob(os.path.join(jars, n + "-2.*.jar"))]
    if len(compiler) != 3:
        raise BuildError("the Scala compiler jars are missing from " + jars)
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", classpath, "-d", out, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def build():
    """Returns the class path (engine + benchmark + Spark jars)."""
    engine = sources(os.path.join(ENGINE_SRC, "scala"))
    bench = sources(BENCH_SRC)
    if not engine:
        raise BuildError("no engine sources under src/main/scala; run from a full checkout")
    jars = spark_jars()
    key = source_hash(engine + bench + sources(os.path.join(ENGINE_SRC, "resources"), ""))
    target = os.path.join(BUILD_ROOT, key)
    classes, bench_classes = os.path.join(target, "classes"), os.path.join(target, "bench")
    jar_cp = os.path.join(jars, "*")
    if not os.path.exists(os.path.join(target, "ok")):
        tmp = target + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(jars, jar_cp, os.path.join(tmp, "classes"), engine)
        res = os.path.join(ENGINE_SRC, "resources")
        if os.path.isdir(res):
            shutil.copytree(res, os.path.join(tmp, "classes"), dirs_exist_ok=True)
        scalac(jars, os.pathsep.join([os.path.join(tmp, "classes"), jar_cp]),
               os.path.join(tmp, "bench"), bench)
        open(os.path.join(tmp, "ok"), "w").close()
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
    return os.pathsep.join([bench_classes, classes, jar_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
