#!/usr/bin/env python3
"""Build and run the engine's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

The first run compiles the library (src/main/scala) together with the
benchmark (perfbench/scala) with the Scala compiler that ships in the Spark
distribution's jars, into .bench_build/classes-<source hash>; later runs
reuse it. The benchmark prints progress lines and, as its last line, one
JSON object with the keys correct, attempted, failed and metrics.
"""

import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parents[1])
    jars = pathlib.Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def sources():
    lib = pathlib.Path("src/main/scala")
    bench = pathlib.Path("perfbench/scala")
    if not lib.is_dir() or not bench.is_dir():
        fail("run from the root of a checkout holding src/main/scala "
             "and perfbench/scala")
    files = sorted(lib.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not any(f.parts[:3] == ("src", "main", "scala") for f in files):
        fail("src/main/scala holds no Scala sources")
    return files


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout), proc
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, proc


def build(jars, files, root):
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f).encode())
        digest.update(f.read_bytes())
    out = root / f"classes-{digest.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = root / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    t0 = time.time()
    code, _ = run_bounded(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files],
        BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed" if code is not None else "build timed out")
    tmp.rename(out)
    print(f"[perfbench] built {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    a = p.parse_args()

    jars = spark_jars()
    files = sources()
    root = pathlib.Path(".bench_build")
    root.mkdir(exist_ok=True)
    classes = build(jars, files, root)
    tmpdir = root / "tmp"
    tmpdir.mkdir(exist_ok=True)

    opens = [x for p_ in ADD_OPENS for x in ("--add-opens", f"{p_}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmpdir.resolve()}"]
           + opens
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    code, _ = run_bounded(cmd, RUN_TIMEOUT_S)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
