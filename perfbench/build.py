#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) and the benchmark
(`perfbench/src`) with the Scala compiler that ships in Spark's `jars`
directory, into `.bench_build/perfbench/`. A stamp of every source file's
content makes a rebuild happen only when a source changed.

    python3 perfbench/build.py          # build (no-op when up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
        raise SystemExit(f"build: no scala-compiler-{SCALA_VERSION}.jar in {jars}")
    return jars


def sources(root, pattern="*.scala"):
    return sorted(f for f in glob.glob(os.path.join(root, "**", pattern), recursive=True)
                  if os.path.isfile(f))


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, files):
    os.makedirs(out_dir, exist_ok=True)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)


def build():
    """Returns the runtime classpath and the sources' stamp, compiling first
    whatever changed: the engine, then the benchmark against it."""
    engine = sources(ENGINE_SRC) + sources(ENGINE_RESOURCES, "*")
    bench = sources(BENCH_SRC)
    if not sources(ENGINE_SRC):
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    if not bench:
        raise SystemExit(f"build: no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    engine_out = os.path.join(OUT, "engine-classes")
    bench_out = os.path.join(OUT, "bench-classes")
    engine_stamp = stamp(engine)
    bench_stamp = stamp(engine + bench)

    def up_to_date(out, want):
        f = out + ".stamp"
        return os.path.isfile(f) and open(f).read() == want

    def compile_into(out, want, classpath, files, resources=None):
        shutil.rmtree(out, ignore_errors=True)
        if os.path.exists(out + ".stamp"):
            os.remove(out + ".stamp")
        scalac(jars, classpath, out, files)
        if resources and os.path.isdir(resources):
            shutil.copytree(resources, out, dirs_exist_ok=True)
        with open(out + ".stamp", "w") as fh:
            fh.write(want)

    if not up_to_date(engine_out, engine_stamp):
        print("build: compiling the engine", file=sys.stderr)
        compile_into(engine_out, engine_stamp, os.path.join(jars, "*"), sources(ENGINE_SRC),
                     ENGINE_RESOURCES)
    if not up_to_date(bench_out, bench_stamp):
        print("build: compiling the benchmark", file=sys.stderr)
        compile_into(bench_out, bench_stamp, os.pathsep.join([engine_out, os.path.join(jars, "*")]),
                     bench)
    return os.pathsep.join([bench_out, engine_out, os.path.join(jars, "*")]), bench_stamp


if __name__ == "__main__":
    build()
