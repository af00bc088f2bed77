"""Build file of the benchmark: compiles the library (`src/main/scala`)
and the harness (`perfbench/scala`) with the Scala compiler that ships
in the Spark distribution (`$SPARK_HOME`, or the one `spark-submit` on
the PATH belongs to), into `.bench_build/perfbench/classes`.

    python3 perfbench/build.py        # prints the run classpath

A build is skipped when the sources hash to the stamp of the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, or the one whose
    `spark-submit` is on the PATH."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "/")))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler under {home}")
    return os.path.join(jars, "*")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        raise SystemExit("library sources src/main/scala not found: run from the repository root")
    return lib + sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))


def build():
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp = f"{CLASSES}{os.pathsep}{jars}"
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile],
                   check=True, stdout=sys.stderr, timeout=800)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
