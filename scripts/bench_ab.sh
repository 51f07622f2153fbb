#!/usr/bin/env bash
# Same-machine A/B of one benchmark workload: <parent-ref> against the
# working tree, alternating the two seed by seed as perfbench/README.md
# asks (odd seeds run the parent first, even seeds the working tree), then
# per metric each side's median and quartiles, the ratio of the medians and
# the number of seeds on which the working tree did better.
#
# Usage: scripts/bench_ab.sh <parent-ref> <workload> <seeds> [trace]
#   scripts/bench_ab.sh HEAD~1 dashboard 1-5      # end-to-end metrics
#   scripts/bench_ab.sh HEAD~1 dashboard 3 1      # per-layer (traced) metrics
#
# <seeds> is N or LO-HI. The parent is exported with `git archive` into a
# temporary directory under ${TMPDIR:-/tmp}, which is removed on exit; each
# side builds its own sources into its own .bench_build/. Every run uses
# BENCHMARK.json's run_seconds. Run lines go to stderr, the table to stdout.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 3 ]; then
  sed -n '6,8p' "$0" >&2
  exit 2
fi
REF="$1" WORKLOAD="$2" SEEDS="$3" TRACE="${4:-0}"
LO="${SEEDS%-*}" HI="${SEEDS#*-}"
SECONDS_PER_RUN=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

PARENT=$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")
trap 'rm -rf "$PARENT"' EXIT
git archive "$(git rev-parse --verify "$REF^{commit}")" | tar -x -C "$PARENT"
OUT="$PARENT/.results"
mkdir -p "$OUT"

run() { # <side> <dir> <seed>
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_PER_RUN" --trace "$TRACE" | tail -n 1)
  echo "$1 seed=$3 $line" >&2
  echo "$line" >> "$OUT/$1.jsonl"
}

for ((seed = LO; seed <= HI; seed++)); do
  if ((seed % 2)); then
    run parent "$PARENT" "$seed"; run head "$PWD" "$seed"
  else
    run head "$PWD" "$seed"; run parent "$PARENT" "$seed"
  fi
done

python3 - "$OUT" <<'EOF'
import json, statistics, sys
from pathlib import Path

def load(side):
    return [json.loads(l) for l in (Path(sys.argv[1]) / f"{side}.jsonl").read_text().splitlines()]

def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3

bench = json.loads(Path("BENCHMARK.json").read_text())
lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"] + bench["per_layer"]}
parent, head = load("parent"), load("head")
for side, runs in (("parent", parent), ("head", head)):
    bad = sum(r["failed"] for r in runs)
    print(f"{side}: {len(runs)} runs, {sum(r['attempted'] for r in runs)} operations, {bad} failed")
print(f"{'metric':32} {'parent q1/med/q3':>26} {'head q1/med/q3':>26} {'head/parent':>11} {'head wins':>9}")
for name in parent[0]["metrics"]:
    p = [r["metrics"][name]["value"] for r in parent]
    h = [r["metrics"][name]["value"] for r in head]
    pq, hq = quartiles(p), quartiles(h)
    wins = sum((b < a) if lower[name] else (b > a) for a, b in zip(p, h))
    ratio = f"{hq[1] / pq[1]:.3f}" if pq[1] else "-"
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{name:32} {fmt(pq):>26} {fmt(hq):>26} {ratio:>11} {wins:>5}/{len(p)}")
EOF
