#!/usr/bin/env python3
"""Build and run the sqlgrepspark benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run compiles the library (src/main/scala) together with the
benchmark (perfbench/src) with the Scala compiler that ships in the Spark
jar directory the repository's build.sbt names; later runs reuse the
classes while the sources are unchanged. The workload then runs in one JVM
with its own heap and GC flags. The JVM's last act is to write the result
object, which this script prints as the last line of standard output.
"""

import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
# A run must end within 180 s of its start; the JVM gets what is left of that.
RUN_LIMIT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    build = ROOT / "build.sbt"
    if build.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        fail(f"library sources not found under {lib}; run from the repository root")
    files = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        fail("no Scala sources")
    return files


def build(jars):
    """Compiles library and benchmark into .build/classes unless the
    sources are unchanged since the last build."""
    files = sources()
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(h.hexdigest())
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def run_jvm(classes, jars, main_args, run_dir):
    out = run_dir / "result.json"
    # fixed heap size, so that GC sizing does not adapt differently from run
    # to run; not pre-touched, so that the resident set shows the memory the
    # program uses; no perf-data file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", "-Xss4m", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main"]
           + main_args + ["--work", str(run_dir), "--out", str(out)])
    (run_dir / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the run exceeded {RUN_LIMIT_S} s and was stopped")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if code != 0 or not out.is_file():
        fail(f"the benchmark JVM exited with code {code}")
    return out.read_text().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="pipeline, sqlgrep, dedup or snapshot")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that every output check rejects corrupted results")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        if a.selftest:
            args = ["--selftest", "1"]
        else:
            args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace)]
        sys.stdout.flush()
        result = run_jvm(classes, jars, args, run_dir)
    finally:
        # shuffle files, tables and inputs of this run
        shutil.rmtree(run_dir, ignore_errors=True)
    print(result, flush=True)


if __name__ == "__main__":
    main()
