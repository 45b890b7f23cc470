#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the library sources (`src/main/scala`) together with the
harness sources (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, into `.bench_build/perfbench/classes`. The build
is skipped when no source file changed since the last one.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
SCALA_VERSION = "2.13.17"


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, or the jars next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else ""
    return Path(home) / "jars"


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def sources() -> list:
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    return [str(f) for f in files]


def missing() -> str:
    """Why the tree cannot be built, or '' when it can."""
    if not (LIB_SRC / "graft" / "SparkEntry.scala").is_file():
        return f"library sources not found under {LIB_SRC}"
    if not (BENCH_SRC / "perfbench" / "Main.scala").is_file():
        return f"harness sources not found under {BENCH_SRC}"
    if not (spark_jars() / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
        return f"scala-compiler-{SCALA_VERSION}.jar not found in {spark_jars()}"
    return ""


def digest(files: list) -> str:
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build() -> float:
    """Compile if needed; returns the seconds spent compiling (0 when cached)."""
    why = missing()
    if why:
        raise FileNotFoundError(why)
    files = sources()
    stamp = OUT / "stamp"
    want = digest(files)
    if stamp.is_file() and stamp.read_text() == want and CLASSES.is_dir():
        return 0.0
    t0 = time.monotonic()
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    compiler = os.pathsep.join(str(jars / f"{n}-{SCALA_VERSION}.jar")
                               for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-cp", f"{jars}/*", "-d", str(tmp)] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(want)
    return time.monotonic() - t0


if __name__ == "__main__":
    try:
        print(f"built in {build():.1f} s")
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
