#!/usr/bin/env python3
"""Benchmark entry point.

Usage: python3 perfbench/run.py --workload warm|fresh --seed N \
           --seconds S --trace 0|1 [--record-digests]

Builds the program and the harness from source (perfbench/build.py), then
runs the harness in one JVM on local[nproc]. The harness prints a
provenance line and, as the last line of standard output, the result
JSON. Everything a run writes goes under .bench_build/perfbench/run-<pid>
in the checkout and is deleted when the run ends.

The corpus is the read-only sf0.01 test data, ~/testdata/sf0.01
(PERFBENCH_CORPUS overrides its directory). --record-digests rewrites
perfbench/digests.json from the results of the code under test instead of
checking against it.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# the project's read-only test data (TESTDATA.md) lives in the home directory
CORPUS = os.environ.get("PERFBENCH_CORPUS",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170  # a run must end within 180 s of its start, build aside

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["warm", "fresh"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    missing = [t for t in TABLES
               if not os.path.exists(os.path.join(CORPUS, t + ".parquet"))]
    if missing:
        sys.exit(f"perfbench: corpus {CORPUS} lacks {', '.join(missing)}")
    t_build = time.monotonic()
    classes = build.build()
    build_s = time.monotonic() - t_build

    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "perfbench.PerfBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--corpus", CORPUS, "--work", work,
        "--digests", os.path.join(HERE, "digests.json"),
        "--record", "1" if a.record_digests else "0",
    ]
    budget = DEADLINE_S - (time.monotonic() - t_start - build_s)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.exit(f"perfbench: run exceeded {budget:.0f} s")

    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        sys.exit(f"perfbench: harness exited {proc.returncode} without a result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
