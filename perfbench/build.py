"""Compiles the program (src/main/scala) together with the benchmark
harness (perfbench/scala) with the Scala compiler that ships in the Spark
distribution. The output is reused while no source file changes.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")


def _spark_home():
    """$SPARK_HOME, else the first Spark distribution with a spark-submit on
    PATH (wrappers without a jars/ directory beside them are skipped)."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def _sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(_spark_home(), "jars", "*")


def source_stamp():
    """Hash of every source file compiled into the classpath."""
    h = hashlib.sha256()
    for s in _sources():
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath; raises on a missing source tree or a
    compile error."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no program sources under src/main/scala")
    digest = source_stamp()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "classes"))
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(_sources()))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(_spark_home(), "jars", "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", os.path.join(OUT, "classes"), "@" + args_file],
        cwd=OUT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
