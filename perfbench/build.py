#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark runner (perfbench/src) with the Scala compiler that ships in the
Spark jars directory ($SPARK_HOME/jars, else build.sbt's unmanagedBase, else
the one beside spark-submit on PATH), so no build tool or network is needed.

Usage: python3 perfbench/build.py   (from the repository root)

Outputs go to .bench_build/perfbench/{main,bench}; each is rebuilt only when
the SHA-256 of its sources changed. Exits non-zero when the program sources
or the Spark jars are missing.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def jar_dirs():
    """Candidate Spark jar directories: $SPARK_HOME/jars, the directory the
    project's build.sbt names as its unmanagedBase, and the one beside
    spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        yield os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            yield m.group(1)
    except OSError:
        pass
    submit = shutil.which("spark-submit")
    if submit:
        yield os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")


def spark_jars():
    for d in jar_dirs():
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    sys.exit("perfbench: no Spark jars directory with a Scala compiler "
             "(set SPARK_HOME)")


def sources(d):
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        sys.exit(f"perfbench: no Scala sources under {os.path.relpath(d, ROOT)}")
    return found


def compile_once(name, srcs, classpath, jars):
    dest = os.path.join(OUT, name)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    for c in classpath:
        h.update(c.encode())
    stamp = os.path.join(OUT, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    compiler = [j for j in jars if os.path.basename(j).split("-")[0] == "scala"
                and os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath + jars), "-d", dest] + srcs
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit(f"perfbench: compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return dest


def build():
    """Returns the runtime classpath (benchmark, program, Spark jars)."""
    jars = spark_jars()
    main = compile_once("main", sources(os.path.join(ROOT, "src", "main", "scala")), [], jars)
    bench = compile_once("bench", sources(os.path.join(HERE, "src")), [main], jars)
    return [bench, main] + jars


if __name__ == "__main__":
    build()
