"""Build step of the benchmark: compile the library and the benchmark.

The library sources (``src/main/scala``) and the benchmark's own
(``perfbench/src``) are compiled together by the Scala compiler that
ships with Spark, into ``$CARGO_TARGET_DIR/classes`` (default
``.bench_build/classes``). A hash of every source file decides whether a
rebuild is needed, so a checkout is compiled once.

Run from the repository root: ``python3 perfbench/build.py``.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"{LIB_SRC} not found: run from the repository root")
    found = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError("no Scala sources found")
    return found


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    out = os.path.join(build_dir(), "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
