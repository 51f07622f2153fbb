#!/usr/bin/env bash
# Same-machine A/B of the benchmark: <parent-ref> against the working tree,
# alternating the two seed by seed as perfbench/README.md asks (odd seeds
# run the parent first, even seeds the working tree). `all` runs every
# workload of BENCHMARK.json, interleaved seed by seed. Then, per workload
# and metric: each side's median and quartiles, the ratio of the medians,
# the number of seeds on which the working tree did better, and a verdict.
#
# Usage: scripts/bench_ab.sh <parent-ref> <workload|all> <seeds> [trace]
#   scripts/bench_ab.sh HEAD~1 dashboard 1-10     # end-to-end metrics
#   scripts/bench_ab.sh HEAD~1 all 11-20          # every workload
#   scripts/bench_ab.sh HEAD~1 dashboard 3 1      # per-layer (traced) metrics
#
# Verdicts, for the end-to-end metrics (the ones BENCHMARK.json bounds):
#   gain        the working tree wins at least 9 of 10 pairs and its median
#               is better by more than the parent's quartile distance
#   worse       the median is worse than the parent's by more than the bound
#   unresolved  either side's spread, (q3 - q1) / median, exceeds the bound
#   same        anything else
# The script exits 1, after the whole table, when any end-to-end verdict
# is "worse" or either side has failed operations: the checks that refuse
# a change.
#
# <seeds> is N or LO-HI. The parent is exported with `git archive` into a
# temporary directory under ${TMPDIR:-/tmp}, which is removed on exit; each
# side builds its own sources into its own .bench_build/. The table's log
# records every part's absolute path, so the parent's directory is named to
# make its absolute path exactly as long as the working tree's, or
# stored_bytes_per_row would favour the shorter one; the script stops if
# ${TMPDIR:-/tmp} leaves no room for that. Every run uses BENCHMARK.json's
# run_seconds. Run lines go to stderr, the table to stdout.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 3 ]; then
  sed -n '9,12p' "$0" >&2
  exit 2
fi
REF="$1" WORKLOAD="$2" SEEDS="$3" TRACE="${4:-0}"
LO="${SEEDS%-*}" HI="${SEEDS#*-}"
SECONDS_PER_RUN=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
if [ "$WORKLOAD" = all ]; then
  WORKLOADS=$(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))')
else
  WORKLOADS="$WORKLOAD"
fi

HERE=$(pwd -P)
BASE=$(cd "${TMPDIR:-/tmp}" && pwd -P)
PAD=$((${#HERE} - ${#BASE} - 1))
if ((PAD < 3)); then
  echo "bench_ab: $BASE is too long for a parent checkout as long as $HERE;" \
    "set TMPDIR to a shorter directory" >&2
  exit 2
fi
PARENT=$(mktemp -d "$BASE/$(printf 'X%.0s' $(seq "$PAD"))")
trap 'rm -rf "$PARENT"' EXIT
if ((${#PARENT} != ${#HERE})); then
  echo "bench_ab: parent checkout $PARENT is not as long as $HERE" >&2
  exit 2
fi
git archive "$(git rev-parse --verify "$REF^{commit}")" | tar -x -C "$PARENT"
OUT="$PARENT/.results"
mkdir -p "$OUT"

run() { # <side> <dir> <workload> <seed>
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" \
    --seconds "$SECONDS_PER_RUN" --trace "$TRACE" | tail -n 1)
  echo "$1 $3 seed=$4 $line" >&2
  echo "$line" >> "$OUT/$1.$3.jsonl"
}

for ((seed = LO; seed <= HI; seed++)); do
  for w in $WORKLOADS; do
    if ((seed % 2)); then
      run parent "$PARENT" "$w" "$seed"; run head "$HERE" "$w" "$seed"
    else
      run head "$HERE" "$w" "$seed"; run parent "$PARENT" "$w" "$seed"
    fi
  done
done

python3 - "$OUT" $WORKLOADS <<'EOF'
import json, statistics, sys
from pathlib import Path

def load(side, workload):
    path = Path(sys.argv[1]) / f"{side}.{workload}.jsonl"
    return [json.loads(l) for l in path.read_text().splitlines()]

def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3

def verdict(p, h, pq, hq, wins, lower, bound):
    better = (hq[1] < pq[1]) if lower else (hq[1] > pq[1])
    if better and wins >= 0.9 * len(p) and abs(hq[1] - pq[1]) > pq[2] - pq[0]:
        return "gain"
    worse_by = (hq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    if (worse_by if lower else -worse_by) > bound:
        return "worse"
    spread = lambda q: (q[2] - q[0]) / q[1] if q[1] else 0.0
    if max(spread(pq), spread(hq)) > bound:
        return "unresolved"
    return "same"

bench = json.loads(Path("BENCHMARK.json").read_text())
lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"] + bench["per_layer"]}
bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
refused = []
for workload in sys.argv[2:]:
    parent, head = load("parent", workload), load("head", workload)
    print(f"== {workload}")
    for side, runs in (("parent", parent), ("head", head)):
        bad = sum(r["failed"] for r in runs)
        print(f"{side}: {len(runs)} runs, {sum(r['attempted'] for r in runs)} operations, {bad} failed")
        if bad:
            refused.append(f"{workload}: {bad} failed operations on the {side} side")
    print(f"{'metric':32} {'parent q1/med/q3':>26} {'head q1/med/q3':>26} "
          f"{'head/parent':>11} {'head wins':>9}  verdict")
    for name in parent[0]["metrics"]:
        p = [r["metrics"][name]["value"] for r in parent]
        h = [r["metrics"][name]["value"] for r in head]
        pq, hq = quartiles(p), quartiles(h)
        wins = sum((b < a) if lower[name] else (b > a) for a, b in zip(p, h))
        ratio = f"{hq[1] / pq[1]:.3f}" if pq[1] else "-"
        v = verdict(p, h, pq, hq, wins, lower[name], bounds[name]) if name in bounds else "-"
        print(f"{name:32} {fmt(pq):>26} {fmt(hq):>26} {ratio:>11} {wins:>5}/{len(p)}  {v}")
        if v == "worse":
            refused.append(f"{workload}: {name} is worse")
for reason in refused:
    print(f"bench_ab: {reason}", file=sys.stderr)
sys.exit(1 if refused else 0)
EOF
