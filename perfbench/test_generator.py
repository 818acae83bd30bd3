#!/usr/bin/env python3
"""Test of the benchmark's CAS generator (perfbench.GenCheck): same seed,
byte-identical streams; the designed edge cases present.

Usage: python3 perfbench/test_generator.py    (from the repository root)
"""
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the source directory as checked out
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

classes = build.build()
sys.exit(subprocess.run(["java", "-cp", f"{classes}{os.pathsep}{build.classpath()}", "perfbench.GenCheck"]).returncode)
