#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) into
$CARGO_TARGET_DIR/classes (default .bench_build/classes) with the Scala
compiler that ships in the Spark jar directory build.sbt compiles
against. A content stamp of every source skips the compile when nothing
changed.

Usage: python3 perfbench/build.py    (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars() -> Path:
    """The jar directory build.sbt compiles against (its `unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def out_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    harness = ROOT / "perfbench" / "src"
    if not program.is_dir():
        raise FileNotFoundError(f"program sources not found under {program}")
    return sorted(list(program.rglob("*.scala")) + list(harness.rglob("*.scala")))


def classpath() -> str:
    return str(spark_jars() / "*")


def build() -> Path:
    """Compile if any source changed; return the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = out_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", classpath()] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
