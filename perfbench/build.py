"""Build file of the benchmark: compiles the program and the harness.

The program's Scala sources (`src/main/scala`) and the harness
(`perfbench/harness`) are compiled together with the Scala compiler that
ships in Spark's jar directory, against Spark's jars, into a class
directory named after a digest of every source file. An up-to-date build
is reused.

Usage: python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars/ beside a bin/ on PATH
    that holds spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        found = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if found:
            return found
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise SystemExit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(build_dir):
    """Return the class directory, compiling first if it is missing."""
    files = sources()
    out = os.path.join(build_dir, "classes-" + digest(files))
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(spark_jars())
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
