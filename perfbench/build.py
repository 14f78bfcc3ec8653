#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) into `.bench_build/classes`, using the Scala
compiler that ships in Spark's `jars/` directory; Spark is found through
`SPARK_HOME` or `spark-submit` on `PATH`. A content stamp skips the compile
when no source changed.

    python3 perfbench/build.py          # from the repository root
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark installation with a Scala compiler (set SPARK_HOME)")
    return jars


def sources() -> list:
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        sys.exit(f"perfbench: missing source directories: {', '.join(missing)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> Path:
    """Compile if needed; return the classes directory. A lock keeps two runs
    started together in one checkout from compiling over each other."""
    srcs = sources()
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(srcs)


def _build(srcs) -> Path:
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "classes.stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args = BUILD / "scalac.args"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(CLASSES), f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
