"""Build the benchmark: compile the engine (`src/main/scala`) and the
benchmark's Scala side (`perfbench/scala`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes`.

    python3 perfbench/build.py            # from the repository root

The build is skipped when a stamp of every source file's path, size and
content hash matches the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(CLASSES, ".stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark's jars not found: set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"source directory missing: {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read() + b"\0")
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    cp = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    print(f"[build] compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", CLASSES, "-nowarn",
         "-d", CLASSES, "@" + argfile],
        # scalac also searches the working directory for packages
        cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
