"""Build step of the benchmark: compiles graft's library sources
(src/main/scala) together with the benchmark harness (perfbench/harness)
into .bench_build/classes with the Scala compiler that ships in the Spark
distribution, and copies src/main/resources next to the classes.

The build is skipped when a stamp over every input file matches. Run it
alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    `spark-submit` on PATH that sits in a distribution with a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def _inputs():
    src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not src:
        raise SystemExit("no graft sources under src/main/scala: run from a graft checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src", "main", "resources", "**", "*"),
                                      recursive=True) if os.path.isfile(p))
    return src + harness, res


def build(quiet=False):
    """Compile if needed; return the classes directory."""
    scala, res = _inputs()
    h = hashlib.sha256()
    for p in scala + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + scala
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    base = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    if not quiet:
        print(f"built {len(scala)} Scala files into {CLASSES}")
    return CLASSES


if __name__ == "__main__":
    build()
