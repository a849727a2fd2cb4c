"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own Scala sources with the Scala compiler that ships with
Spark, into `.bench_build/classes`. A stamp of the source contents skips
the compile when nothing changed.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def die(msg):
    """Stops with exit code 2: the benchmark could not be built or run
    (exit code 1 is left for failed operations and checks)."""
    sys.stderr.write(f"perfbench: {msg}\n")
    raise SystemExit(2)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else those of spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns the run classpath."""
    if not os.path.isdir(MAIN_SRC):
        die("no src/main/scala here; run from the repository root")
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        args_file = os.path.join(OUT, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files))
        jars = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
               "-Ybackend-parallelism", "4", "@" + args_file]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build())
