#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 14 --trace 0

Builds the program and the harness from source on first use (see
build.py), then runs the workload in one JVM: Spark `local[nproc]` with a
fixed heap. `--trace 0` prints the end-to-end metrics; `--trace 1` prints
the per-layer metrics and writes, under `.bench_build/traces/`, the run's
spans as JSON lines and its end-to-end metrics as one JSON object. Run
from the repository root; everything the run writes stays under
`.bench_build/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "2g"
# JVM start, session, set-up and checks take under a minute on 4 cores;
# the limit grows with the measured window
SETUP_ALLOWANCE_S = 100
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only, no code-cache flushing and room for all the code a run
    # compiles: see "Run set-up" in README.md
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:-UseCodeCacheFlushing",
             "-XX:ReservedCodeCacheSize=1g",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", classpath, "perfbench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = build.OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = build.OUT / "logs" / f"{args.workload}-{args.seed}-trace{args.trace}.log"
    log.parent.mkdir(exist_ok=True)
    traces = build.OUT / "traces"
    traces.mkdir(exist_ok=True)
    cmd = jvm_command(classpath, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", str(work),
        "--trace-file", str(traces / f"{args.workload}-{args.seed}.jsonl"),
        "--end-to-end-file", str(traces / f"{args.workload}-{args.seed}.end_to_end.json")])
    timeout = SETUP_ALLOWANCE_S + 2 * args.seconds
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                                  stderr=err, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {args.workload} did not finish in {timeout:.0f} s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        sys.exit(f"perfbench: {args.workload} failed (exit {proc.returncode}); see {log}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
