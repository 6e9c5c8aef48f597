#!/usr/bin/env bash
# A/B the declared benchmark (BENCHMARK.json): a git ref vs the working tree.
#
#   scripts/perfbench_ab.sh <workload> <git-ref> <seed>...
#   scripts/perfbench_ab.sh shard_append HEAD~ 1 2 3
#
# Exports <git-ref> and the working tree (tracked and untracked files that
# .gitignore does not exclude, committed or not) with `git archive` into a
# temp dir, so both arms start from the same kind of fresh checkout, and runs
# `perfbench/run.py --workload <workload> --seed <seed> --seconds 10 --trace 0`
# once on each tree per seed. The arm that runs first alternates from one
# pair to the next: on a shared box the second run of a pair reads slower,
# so a fixed order would bias every pair the same way. Prints one line per
# run (final_check, steal_frac, ops_failed_frac and every end-to-end metric
# BENCHMARK.json names: op_s_p50, peak_rss_mb, ...), then each arm's median
# and quartiles per metric, each arm's median steal_frac, and the pairs the
# working tree won on op_s_p50: over all pairs, and over the pairs where both
# runs read steal_frac <= 0.05 (host steal slows a run without the code).
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <workload> <git-ref> <seed>..." >&2
  exit 2
fi
workload=$1 ref=$2
shift 2
root=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/ref" "$tmp/tree"
git -C "$root" archive "$ref" | tar -x -C "$tmp/ref"
# the working tree as a tree object, staged through a scratch index so the
# repository's own index is left as it is
cp "$(git -C "$root" rev-parse --path-format=absolute --git-path index)" "$tmp/index"
GIT_INDEX_FILE="$tmp/index" git -C "$root" add -A
git -C "$root" archive "$(GIT_INDEX_FILE="$tmp/index" git -C "$root" write-tree)" | tar -x -C "$tmp/tree"
echo "ref=$ref ($(git -C "$root" rev-parse --short "$ref"))  tree=$root" >&2
metrics=$(python3 -c 'import json, sys
print(" ".join(m["name"] for m in json.load(open(sys.argv[1]))["end_to_end"]))' "$root/BENCHMARK.json")

run_arm() {  # <arm> <dir> <pair> <seed>: one run, one tab-separated line
  local out
  out=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$4" \
    --seconds 10 --trace 0 2>/dev/null | tail -n 2) || true
  python3 - "$1" "$3" "$4" "$out" $metrics <<'EOF'
import json, sys

arm, pair, seed, out, *names = sys.argv[1:]
try:
    report, result = (json.loads(line) for line in out.splitlines())
    report = report["report"]
    stamps = [report["final_check"], f"{report['steal_frac']:.3f}", f"{report['ops_failed_frac']:.3f}"]
    values = [f"{result['metrics'][n]['value']:.4g}" for n in names]
except ValueError:
    stamps, values = ["run failed", "nan", "nan"], ["nan"] * len(names)
print("\t".join([pair, seed, arm, *stamps, *values]))
EOF
}

printf 'pair\tseed\tarm\tfinal_check\tsteal_frac\tops_failed_frac\t%s\n' "${metrics// /$'\t'}" | tee "$tmp/runs.tsv"
pair=0
for seed in "$@"; do
  if [ $((pair % 2)) -eq 0 ]; then order="ref tree"; else order="tree ref"; fi
  for arm in $order; do
    run_arm "$arm" "$tmp/$arm" "$pair" "$seed" | tee -a "$tmp/runs.tsv"
  done
  pair=$((pair + 1))
done

python3 - "$tmp/runs.tsv" $metrics <<'EOF'
import csv, statistics, sys

rows = list(csv.DictReader(open(sys.argv[1]), delimiter="\t"))
for name in sys.argv[2:]:
    for arm in ("ref", "tree"):
        v = sorted(float(r[name]) for r in rows if r["arm"] == arm)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else v * 3
        print(f"{name:22s} {arm:4s} median {statistics.median(v):.4g} "
              f"(quartiles {q[0]:.4g}-{q[2]:.4g}, {len(v)} runs)")
for arm in ("ref", "tree"):
    v = [float(r["steal_frac"]) for r in rows if r["arm"] == arm]
    print(f"{'steal_frac':22s} {arm:4s} median {statistics.median(v):.3f}")
run = {arm: {r["pair"]: r for r in rows if r["arm"] == arm} for arm in ("ref", "tree")}
# a pair counts as quiet when neither run lost more than 5% of its CPU to steal
quiet = [k for k in run["ref"] if max(float(run[a][k]["steal_frac"]) for a in run) <= 0.05]
for label, pairs in (("", list(run["ref"])), (" (steal_frac <= 0.05 in both runs)", quiet)):
    won = sum(float(run["tree"][k]["op_s_p50"]) < float(run["ref"][k]["op_s_p50"]) for k in pairs)
    print(f"op_s_p50: tree faster in {won} of {len(pairs)} pairs{label}")
EOF
