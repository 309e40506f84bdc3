#!/usr/bin/env bash
# A/B the benchmark's end-to-end metrics: a parent commit against this checkout.
#
#   tools/ab.sh <parent-sha> <workload> <pairs>
#
# Exports <parent-sha> with `git archive` into a new directory under
# ${TMPDIR:-/tmp} and runs `perfbench/run.py --trace 0` on it and on this
# checkout's working tree, one pair per seed (seeds 1 to <pairs>). The
# parent goes first in odd pairs, this checkout in even ones, so host
# drift does not favour one side. Each run's record
# (.bench_build/records/*.json) and log are kept under the export directory.
# The summary prints, per end-to-end metric in BENCHMARK.json, each side's
# median and quartiles, the change/parent ratio of the medians, the pairs
# the change won, and the failed operations over all runs. Under the table
# come, for the ETL workloads, each side's median jobs, tasks and
# cache_bytes per warm call, then one verdict line per metric for the claim
# rule: a gain may be claimed
# only when at least 10 pairs ran, the change won at least 9/10 of them
# (ties count for neither), and its median is better than the parent's by
# more than the parent's quartile spread (q3 - q1).
set -euo pipefail
[ $# -ge 3 ] || { sed -n 4p "$0" >&2; exit 2; }
parent=$1 workload=$2 pairs=$3
here=$(cd "$(dirname "$0")/.." && pwd)
dir=$(mktemp -d "${TMPDIR:-/tmp}/ab.XXXXXX")
mkdir -p "$dir/parent" "$dir/records"
git -C "$here" archive "$parent" | tar -x -C "$dir/parent"
echo "[ab] parent $parent in $dir/parent; records in $dir/records" >&2

run() { # side checkout seed
  local rec="$2/.bench_build/records/$workload-seed$3-trace0.json"
  rm -f "$rec"
  echo "[ab] $1 seed $3" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds 10 --trace 0) >"$dir/records/$1-$3.log" 2>&1 \
    || echo "[ab] $1 seed $3 exited nonzero; see $dir/records/$1-$3.log" >&2
  if [ -f "$rec" ]; then cp "$rec" "$dir/records/$1-$3.json"; fi
}

for ((seed = 1; seed <= pairs; seed++)); do
  if ((seed % 2 == 1)); then
    run parent "$dir/parent" "$seed"; run change "$here" "$seed"
  else
    run change "$here" "$seed"; run parent "$dir/parent" "$seed"
  fi
done

python3 - "$here/BENCHMARK.json" "$dir/records" "$workload" "$pairs" <<'EOF'
import json, os, statistics, sys

bench, records, workload, pairs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
seeds = range(1, pairs + 1)

def load(side, seed):
    p = os.path.join(records, f"{side}-{seed}.json")
    return json.load(open(p)) if os.path.exists(p) else None

recs = {side: {s: load(side, s) for s in seeds} for side in ("parent", "change")}

def quart(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

def value(rec, name):
    v = rec["metrics"].get(name, {}).get("value", -1.0) if rec else -1.0
    return v if v > 0 else None  # -1: the run or its samples failed

print(f"workload {workload}, seeds 1-{pairs}, {pairs} pairs")
print("| metric | parent median [q1, q3] | change median [q1, q3] | ratio | change won |")
print("|---|---|---|---|---|")
verdicts = []
for m in json.load(open(bench))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    vals = {side: {s: value(recs[side][s], name) for s in seeds} for side in recs}
    both = [s for s in seeds if vals["parent"][s] is not None and vals["change"][s] is not None]
    wins = sum((vals["change"][s] < vals["parent"][s]) == lower
               and vals["change"][s] != vals["parent"][s] for s in both)
    qs = {side: quart([v for v in vals[side].values() if v is not None]) for side in vals}
    ratio = qs["change"][1] / qs["parent"][1]
    cell = lambda q: f"{q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]"
    print(f"| {name} | {cell(qs['parent'])} | {cell(qs['change'])} | x{ratio:.2f} | "
          f"{wins}/{len(both)} |")
    won = pairs >= 10 and wins >= 0.9 * pairs
    gap = (qs["parent"][1] - qs["change"][1]) * (1 if lower else -1)
    spread = qs["parent"][2] - qs["parent"][0]
    verdicts.append(
        f"{name}: won {wins}/{pairs} pairs ({'at least 9/10' if won else 'under 9/10 or under 10 pairs'}); "
        f"median better by {gap:.3f} against the parent's quartile spread {spread:.3f} "
        f"({'more' if gap > spread else 'not more'}); "
        f"gain {'CAN' if won and gap > spread else 'cannot'} be claimed")
# listener counts per timed call: what a warm call cost besides time
# (the ETL records carry them per call; the lanes records do not)
def counts(side, key):
    return [c[key] for r in recs[side].values() if r
            for c in r.get("jvm", {}).get("calls", []) if c.get("kind") == "warm" and key in c]

rows = [(key, {side: counts(side, key) for side in recs}) for key in ("jobs", "tasks", "cache_bytes")]
if any(v for _, vals in rows for v in vals.values()):
    print()
    print("| per warm call | parent median | change median |")
    print("|---|---|---|")
    for key, vals in rows:
        med = {side: statistics.median(v) if v else float("nan") for side, v in vals.items()}
        print(f"| {key} | {med['parent']:g} | {med['change']:g} |")
print()
print("\n".join(verdicts))
print()
for side in recs:
    got = [r for r in recs[side].values() if r]
    failed = sum(r["failed"] for r in got)
    attempted = sum(r["attempted"] for r in got)
    print(f"{side}: {len(got)}/{pairs} runs recorded, failed {failed} of {attempted} operations")
EOF
