"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

They build the program and the harness (about 30 s the first time) but
start no Spark session.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402


def java(classpath, *args):
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, *args], cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)


def test_generator_modem_and_checks():
    proc = java(build.build(tests=True), "perfbench.SelfTest")
    assert proc.returncode == 0, proc.stdout


def test_printed_metric_names_match_benchmark_json():
    proc = java(build.build(), "perfbench.Main", "--list-metrics")
    assert proc.returncode == 0, proc.stdout
    printed = json.loads(proc.stdout.strip().splitlines()[-1])
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    for kind in ("end_to_end", "per_layer"):
        assert printed[kind] == [m["name"] for m in declared[kind]], kind


def test_fails_without_program_sources():
    bare = build.OUT / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(BENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=170)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
