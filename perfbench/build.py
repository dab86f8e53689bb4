"""Builds the program and the harness from source with the Scala compiler
that ships with Spark, into `.bench_build/classes`.

The output is reused while every source file is unchanged: a stamp holds
the hash of all of them. Run `python3 perfbench/build.py` to build alone.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    """`$SPARK_HOME`, or else the install above a `bin` on PATH, whichever
    first holds Spark's jars with its Scala compiler."""
    bins = os.environ.get("PATH", "").split(os.pathsep)
    for home in [os.environ.get("SPARK_HOME", "")] + [os.path.dirname(b) for b in bins]:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("perfbench: no Spark install found; set SPARK_HOME")


JARS = os.path.join(spark_home(), "jars")
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def sources():
    src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not src:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a checkout")
    return src + sorted(glob.glob("perfbench/harness/*.scala"))


def classpath():
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars in {JARS}")
    return ":".join(jars)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = ":".join(os.path.join(JARS, f"scala-{m}-2.13.17.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
           f"-Djava.io.tmpdir={os.path.abspath(BUILD)}", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(),
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
