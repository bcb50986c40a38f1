"""Build file of the benchmark: compiles graft's sources (`src/main/scala`,
plus `src/main/resources`) together with the benchmark program
(`perfbench/src`) into one class directory, using the Scala compiler that
ships with Spark.

    python3 perfbench/build.py          # prints the class directory

The output lands in `.bench_build/classes-<digest>` under the checkout and
is reused while no source file changes.
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
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars() -> str:
    """The jars of the Spark installation: SPARK_HOME, else the one whose
    spark-submit is on PATH, else the one bundled with pyspark."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark installation with a Scala compiler found; set SPARK_HOME")


def sources() -> list:
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit(f"graft sources not found at {MAIN_SRC}")
    found = []
    for d in (MAIN_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def resources() -> list:
    return sorted(p for p in glob.glob(os.path.join(MAIN_RES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def build() -> str:
    srcs, res = sources(), resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("compile failed")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        if stale != out and not stale.startswith(out + ".tmp"):
            shutil.rmtree(stale, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
