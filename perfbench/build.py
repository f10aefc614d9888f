"""Build file of the benchmark: compiles graft's ``src/main/scala`` together
with ``perfbench/src`` with the Scala compiler that ships in the Spark
distribution, into ``.bench_build/perfbench/classes``.

No sbt run is needed, so the build writes nothing outside the checkout.
A stamp over every source file skips the compile when nothing changed.

Usage: ``python3 perfbench/build.py`` from the root of the checkout.
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """``$SPARK_HOME/jars``, else the jars of the installed ``pyspark``."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "perfbench", "src")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"perfbench: no program sources under {main}")
    return files + sorted(glob.glob(os.path.join(bench, "*.scala")))


def build(log=sys.stderr):
    """Compile if any source changed; returns True when it compiled."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.exists(STAMP) and open(STAMP).read() == h.hexdigest():
        return False
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={OUT}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", jars, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(STAMP, "w") as fh:
        fh.write(h.hexdigest())
    return True


if __name__ == "__main__":
    build()
