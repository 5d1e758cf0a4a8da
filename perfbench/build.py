"""Build file of the benchmark: compiles the program's modules and the
benchmark's own Scala sources into one class directory.

The program is compiled from `src/main/scala` of the checkout (only the
packages the benchmark reaches: its public modules and the Catalyst shim
they use), the benchmark from `perfbench/src`. The output directory is
keyed by a digest of every source file, so a second run reuses it and a
changed source builds afresh. The Scala compiler and the Spark jars come
from the jar directory the repository's `build.sbt` names as
`unmanagedBase`, so the benchmark builds against the Spark the tests use.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
# The modules the benchmark calls, plus what they import and the session
# extension that registers the program's SQL functions.
PROGRAM_DIRS = ["graft/sources", "graft/units", "graft/core",
                "graft/operators", "graft/functions", "graft/streaming",
                "graft/plots", "org"]
PROGRAM_FILES = ["graft/GraftExtensions.scala"]


def spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar "
                         "directory")
    jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars at {jars}")
    return jars


def build_dir():
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return out if os.path.isabs(out) else os.path.join(ROOT, out)


def sources():
    files = []
    for f in PROGRAM_FILES:
        files.append(os.path.join(PROGRAM_SRC, f))
        if not os.path.isfile(files[-1]):
            raise SystemExit(f"build: source file {files[-1]} is missing")
    for d in [os.path.join(PROGRAM_SRC, p) for p in PROGRAM_DIRS] + [BENCH_SRC]:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "..", os.path.basename(out) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + args]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(args)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
