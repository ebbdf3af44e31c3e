#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's sources (src/main/scala) and the benchmark's own sources
(perfbench/src) with the Scala compiler that ships in Spark's jar directory,
into .bench_build/graftbench/ at the root of the checkout. A build is reused
while no source file changes.

    python3 perfbench/build.py        # prints the class path it built
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine, bench


def scalac(jars, classpath, out, files):
    compiler = [glob.glob(os.path.join(jars, p)) for p in
                ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar")]
    if not all(compiler):
        raise BuildError("Scala 2.13 compiler jars missing from " + jars)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile if needed; return the runtime class path."""
    jars = spark_jars()
    engine, bench = sources()
    h = hashlib.sha256(jars.encode())
    for p in engine + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp = os.pathsep.join([os.path.join(OUT, "bench"), os.path.join(OUT, "engine"),
                          os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = OUT + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, os.path.join(jars, "*"), os.path.join(tmp, "engine"), engine)
    scalac(jars, os.pathsep.join([os.path.join(tmp, "engine"), os.path.join(jars, "*")]),
           os.path.join(tmp, "bench"), bench)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(stamp)
    os.rename(tmp, OUT)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
