"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (e2ebench/src) into one class directory with the Scala compiler that
ships in Spark's jars. Writes only under the build directory and skips the
compile when no source changed.

    python3 e2ebench/build.py [BUILD_DIR]
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "e2ebench", "src")


def spark_jars():
    """The jar directory of a Spark distribution that ships a Scala compiler:
    $SPARK_HOME, else the first distribution whose bin/spark-submit is on
    PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("no java executable (set JAVA_HOME or PATH)")
    return exe


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources missing: {ENGINE_SRC}")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(build_dir):
    """Returns the class directory, compiling first when sources changed."""
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, "classes")
    srcs = sources()
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "classes.stamp")
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
               "-d", tmp] + srcs
        print(f"[build] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("[build] compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(os.path.join(ROOT, out)))
