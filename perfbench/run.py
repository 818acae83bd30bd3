#!/usr/bin/env python3
"""The repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload cas-day --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), runs the workload in
one JVM on local[nproc] with an empty, run-owned index directory, and
prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything the run
writes stays under $CARGO_TARGET_DIR (default .bench_build): the run
directory is deleted at exit, the manifest, trace and log are kept under
results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the source directory as checked out
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cas-day", "suite", "curation-stream")
# build.sbt runs the program with 8g (SPARK_DRIVER_MEM); the benchmark runs
# it with half that, since the machine's memory may be shared: heap peaks
# and out-of-memory failures are measured against this heap
HEAP = "4g"
# the whole command must end within 180 s; the JVM gets what the build left
DEADLINE_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def result_line(stdout: str):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if set(obj) == {"correct", "attempted", "failed", "metrics"}:
            return line
    return None


def check_names(line: str, trace: int):
    """The printed metrics must be exactly BENCHMARK.json's list for this
    mode, with the same units; returns a message when they are not."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in json.loads(line)["metrics"].items()}
    return None if got == want else f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = os.times().elapsed
    try:
        classes = build.build()
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = build.out_dir()
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = out / "runs" / f"{stem}-{os.getpid()}"
    results = out / "results"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)

    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", f"{classes}{os.pathsep}{build.classpath()}",
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", str(run_dir), "--results-dir", str(results),
            "--root", str(build.ROOT)]
    # the program resolves its index root from this; a fresh empty dir per
    # run makes set-up the same work every time
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=str(run_dir / "index"))
    timeout = max(10.0, DEADLINE_S - (os.times().elapsed - start))
    try:
        with open(results / f"{stem}.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=run_dir, env=env, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"perfbench: {args.workload} exceeded {timeout:.0f} s", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    line = result_line(stdout)
    if proc.returncode != 0 or line is None:
        print(f"perfbench: {args.workload} failed (exit {proc.returncode}); "
              f"see {results / (stem + '.log')}", file=sys.stderr)
        return 1
    mismatch = check_names(line, args.trace)
    if mismatch:
        print(f"perfbench: {mismatch}", file=sys.stderr)
        return 1
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
