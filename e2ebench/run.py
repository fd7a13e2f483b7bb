#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload, one seed, one run.

    python3 e2ebench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (`build.py`, skipped when
nothing changed), generates the workload's inputs from the seed, times it
for `--seconds`, checks its outputs and prints one JSON object as the last
line of stdout: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Every file the run writes lives under the
checkout (`.bench_work/`, and the build dir); a traced run keeps its span
file at `.bench_work/traces/<workload>-seed<seed>.json`.

Exits non-zero without a result line if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("medallion_batch", "corpus_prep", "corpus_ingest")
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark 4 on JDK 17 needs these outside spark-submit; same list as build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[bench] build FAILED: {e}", file=sys.stderr)
        return 2

    work_root = os.path.join(build.ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=work,
                            encoding="utf-8", errors="replace")
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        print(f"[bench] run exceeded {RUN_TIMEOUT_S} s; killed", file=sys.stderr)
    try:
        for line in out.splitlines():
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line)
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            shutil.copy(trace, os.path.join(
                work_root, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        print(f"[bench] run FAILED (exit code {proc.returncode})", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
