"""Build file of the benchmark package: compiles graft's main sources
together with the harness in `perfbench/src` into one class directory.

It calls the Scala compiler that ships with Spark directly (no sbt), so
a build needs only a JDK and `$SPARK_HOME/jars`. A stamp over every
source file's path and bytes skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH, "src")


def build_dir():
    """`$CARGO_TARGET_DIR` (relative to the checkout) or `.bench_build`."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars` beside a `bin` dir on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit(f"perfbench: graft sources not found at {GRAFT_SRC}"
                         " — run from a checkout of the repository")
    files = []
    for base in (GRAFT_SRC, HARNESS_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"),
                           recursive=True)
    return sorted(files)


def ensure_built():
    """Compile if the sources changed; return the class directory."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + args_file]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(ensure_built())
