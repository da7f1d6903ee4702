"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala`` at the repository root)
together with the benchmark's own (``perfbench/src``) into one class
directory, with the Scala compiler that ships among the Spark jars. The
result is reused while no source file changes.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.sha256")
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the engine build's
    ``unmanagedBase``."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    if not os.path.isdir(PRODUCT_SRC):
        raise BuildError("engine sources not found under src/main/scala")
    found = []
    for top in (PRODUCT_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(extra=()):
    return os.pathsep.join([*extra, os.path.join(spark_jars(), "*")])


def ensure_built(log=sys.stderr):
    """Compile if any source changed since the last build; return the class
    directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    want = digest.hexdigest()
    if os.path.isfile(STAMP):
        with open(STAMP, encoding="utf-8") as f:
            if f.read() == want:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cp = classpath()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, check=False)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w", encoding="utf-8") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
