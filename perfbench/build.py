"""Build file of the benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) into .bench_build/classes at the root of the
checkout, with the Scala compiler that ships among Spark's jars. Spark's jars
are found through SPARK_HOME, or else next to `spark-submit` on the PATH.
Rebuilds only when a source file or the jar set changed.

    python3 perfbench/build.py          # build, print the run classpath
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    found = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _compile(srcs, jars, classes):
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)


def ensure_built():
    """Builds if needed; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        built = os.path.exists(stamp) and open(stamp).read() == key
        if not built:
            _compile(srcs, jars, classes)
            with open(stamp, "w") as f:
                f.write(key)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
