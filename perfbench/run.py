#!/usr/bin/env python3
"""enerspark benchmark: runs one workload with one seed and prints its
metrics as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload energy_report --seed 1 \\
        --seconds 20 --trace 0

Builds the program from `src/main/scala` on first use (see build.py),
then starts one driver JVM with Spark in local[3] and fixed flags. All
files a run writes go to a scratch directory under the build directory
(`CARGO_TARGET_DIR`, default `.bench_build`) that is removed at the end.
See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["energy_report", "trainer_arc"]
# A run must end within 180 s; the JVM is stopped before that.
JVM_TIMEOUT_S = 165
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:ReservedCodeCacheSize=256m",
    "-XX:-UsePerfData", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    classes = build.build()
    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--dir", run_dir, "--raw", raw_path]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr,
                            start_new_session=True)

    def stop():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(1)))
    try:
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            sys.exit(f"run: {a.workload} did not end in {JVM_TIMEOUT_S} s")
        if code != 0:
            sys.exit(f"run: the benchmark JVM exited with {code}")
        with open(raw_path) as fh:
            raw = json.load(fh)
        print(json.dumps(stats.diagnostics(raw), sort_keys=True))
        print(json.dumps(stats.result(raw)))
    finally:
        stop()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
