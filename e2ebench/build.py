#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source, offline.

Compiles every Scala file under the engine's `src/main/scala` together with
the harness under `e2ebench/src` in one scalac run, against the jars of the
local Spark 4 install (`$SPARK_HOME/jars`, or the install the `spark-submit`
on `PATH` belongs to), which also carry the Scala 2.13 compiler. No sbt, no
dependency resolution and no network: the classpath is exactly those jars.

The output goes to `<build dir>/classes`, where the build dir is
`$CARGO_TARGET_DIR` if set (relative paths resolve against the checkout
root) and `.bench_build` otherwise. A stamp over every source file's path
and content skips the compile when nothing changed. Never reads a
prebuilt `target/`.

    python3 e2ebench/build.py        # prints the classes dir on success

Exits non-zero with a message on stderr when sources or jars are missing or
the compile fails.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
COMPILE_TIMEOUT_S = 850


class BuildError(Exception):
    pass


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
            return jars
    raise BuildError("no Spark install with Scala 2.13 jars (scala-compiler) found; "
                     "set SPARK_HOME to a Spark 4 install")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}: run the "
                         "benchmark from a full checkout of the repository")
    files = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files, jars)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want and os.path.isdir(classes):
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(out, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", classes, "@" + argfile]
    print(f"[build] compiling {len(files)} Scala files into {classes}",
          file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile did not finish in {COMPILE_TIMEOUT_S} s")
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


def main():
    try:
        print(build())
    except BuildError as e:
        print(f"[build] FAILED: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
