"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own into one class directory, with the Scala compiler that
ships in the Spark distribution. Run from the repository root:

    python3 steadybench/build.py

The Spark distribution is taken from $SPARK_HOME, or from the spark-submit
on PATH. The output goes to `.bench_build/steadybench/` and is rebuilt only
when a source file changes. Exits non-zero when the engine sources are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
OUT = os.path.join(".bench_build", "steadybench")


def spark_jars():
    """Jars of the Spark distribution at $SPARK_HOME, or else of the first
    spark-submit on PATH that belongs to a distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    sys.exit("no Spark jars found: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        sys.exit(f"engine sources not found under {ENGINE_SRC}; run from the repository root")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def build():
    """Return the class directory, compiling first if any source changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.abspath(os.path.join(OUT, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + srcs
    r = subprocess.run(cmd)
    if r.returncode != 0:
        sys.exit(f"compile failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
