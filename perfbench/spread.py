#!/usr/bin/env python3
"""Runs every workload over several seeds and reports, per end-to-end
metric, the median, the quartiles and the spread (quartile distance over
median, from `statistics.quantiles(values, n=4)`) against the metric's
bound in BENCHMARK.json. With `--traced` it adds one traced run per
workload and reports the tracing overhead: traced minus untraced median.

    python3 perfbench/spread.py --seeds 1-10 --traced --out perfbench/baseline.json
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed with exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s "
          f"correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']}", file=sys.stderr, flush=True)
    return result, wall


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None, help="comma list; default: all")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    # seeds outside, workloads inside: a machine that drifts during the
    # set moves every workload alike
    runs = {w: [] for w in workloads}
    for s in seeds(args.seeds):
        for w in workloads:
            runs[w].append(run(w, s, bench["run_seconds"], 0))
    report = {"seeds": args.seeds, "run_seconds": bench["run_seconds"], "workloads": {}}
    worst = (0.0, None)
    for w in workloads:
        results = runs[w]
        entry = {"wall_s": summary([wall for _, wall in results]),
                 "failed": sum(r["failed"] for r, _ in results),
                 "attempted": sum(r["attempted"] for r, _ in results),
                 "metrics": {}}
        for m in bench["end_to_end"]:
            s = summary([r["metrics"][m["name"]]["value"] for r, _ in results])
            s["bound"] = m["bound"]
            s["unit"] = m["unit"]
            entry["metrics"][m["name"]] = s
            worst = max(worst, (s["spread"] / m["bound"], f"{w} {m['name']}"))
            print(f"  {w:10s} {m['name']:22s} median={s['median']:.4g} "
                  f"spread={s['spread']:.3f} bound={m['bound']}", file=sys.stderr)
        if args.traced:
            seed = seeds(args.seeds)[0]
            traced, wall = run(w, seed, bench["run_seconds"], 1)
            e2e = json.loads((ROOT / ".bench_build" / "traces" /
                              f"{w}-{seed}.end_to_end.json").read_text())
            entry["traced_wall_s"] = wall
            entry["per_layer"] = {k: v["value"] for k, v in traced["metrics"].items()}
            # traced minus untraced median, as a share of the untraced median
            entry["tracing_overhead"] = {
                k: v["value"] / entry["metrics"][k]["median"] - 1 for k, v in e2e.items()}
        report["workloads"][w] = entry
    report["worst_spread_over_bound"] = {"value": worst[0], "where": worst[1]}
    print(f"worst spread / bound: {worst[0]:.3f} ({worst[1]})", file=sys.stderr)
    text = json.dumps(report, indent=2)
    if args.out:
        Path(args.out).write_text(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
