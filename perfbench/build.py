#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft and the harness.

    python3 perfbench/build.py      # prints the classes directory

One scalac run compiles the repository's Scala sources (src/main/scala)
together with the harness (perfbench/src), against the jars of the Spark
installation, which also ship the Scala compiler. Spark is found through
SPARK_HOME, or else through `spark-submit` on PATH. The classes go to
.bench_build/classes-<digest> at the repository root, where <digest>
covers every source file, so a checkout builds once and a changed source
builds afresh.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildFailure(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildFailure("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildFailure("java not found: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildFailure("no graft sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def build():
    """Returns the classes directory, compiling first if it is missing."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildFailure("the Spark installation lacks the Scala 2.13 compiler jars")
    tmp = "%s.tmp-%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildFailure("scalac failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailure as e:
        print(e, file=sys.stderr)
        sys.exit(2)
