"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's JVM runner into one class directory.

It calls the Scala compiler that ships among Spark's jars
($SPARK_HOME/jars, or next to spark-submit on the PATH), so the build
needs neither sbt nor a dependency cache. The output lives under
.bench_build/perfbench/ in the checkout and is reused while a digest of
every source file and jar name is unchanged.

    python3 perfbench/build.py      # build (or reuse) and print the dir
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit(f"graft sources not found at {MAIN_SRC}")
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    return files


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def runtime_classpath(classes):
    return os.pathsep.join([classes, RESOURCES] + spark_jars())


def build(quiet=False):
    """Compile if needed; return the class directory."""
    files, jars = sources(), spark_jars()
    stamp = digest(files, jars)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"compile failed ({res.returncode})")
    if not quiet and res.stdout.strip():
        sys.stderr.write(res.stdout)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
