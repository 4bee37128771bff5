"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark's own Scala sources into one class directory,
with the Scala compiler that ships in Spark's jar directory (no sbt, no
dependency resolution). Rebuilds only when a source file changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """Jar directory of $SPARK_HOME, else of the first `spark-submit` on
    PATH whose installation bundles the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark installation with a Scala compiler found; "
                       "set SPARK_HOME")


SPARK_JARS = _spark_jars()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise RuntimeError(f"no graft sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    """Compile when stale; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(classes, exist_ok=True)
    for old in glob.glob(os.path.join(classes, "**/*.class"), recursive=True):
        os.remove(old)
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath",
                           os.pathsep.join(jars)] + srcs))
    rc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=log, stderr=log).returncode
    if rc != 0:
        raise RuntimeError(f"scalac failed with exit code {rc}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
