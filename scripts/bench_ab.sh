#!/usr/bin/env bash
# A/B the repository benchmark: N alternating pairs of perfbench/run.py on
# two versions of the tree, then, for every end-to-end metric in
# BENCHMARK.json, each side's median and quartiles and the number of
# pairs the change won.
#
#   scripts/bench_ab.sh [-n pairs] [-w workload] [-S first_seed] BASE [CHANGE]
#
# BASE and CHANGE are git refs (exported with `git archive` into a temp
# directory) or existing directories (used in place; `.` is the working
# tree). CHANGE defaults to HEAD. Pair i runs both sides on seed
# first_seed+i with the same settings; even pairs run BASE first, odd
# pairs CHANGE first. Defaults: 10 pairs of registry_hot.
# The run length (run_seconds), the metric names and each one's "better"
# direction are read from BENCHMARK.json, so every run is as long as the
# benchmark's and one A/B covers all of its end-to-end metrics.
# Each run's last stdout line and stderr stay under the temp directory,
# which is printed; exported trees are removed on exit.
# A run that reports correct=false or a failure aborts the comparison.
set -euo pipefail

pairs=10 workload=registry_hot seed0=1
while getopts "n:w:S:" opt; do
  case $opt in
    n) pairs=$OPTARG ;; w) workload=$OPTARG ;; S) seed0=$OPTARG ;;
    *) sed -n '2,19p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
[ $# -ge 1 ] || { sed -n '2,19p' "$0"; exit 2; }
base_arg=$1 change_arg=${2:-HEAD}

repo=$(git rev-parse --show-toplevel)
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")
# /tmp, not $TMPDIR: perfbench's sbt puts its server socket ~70 characters
# below each exported tree, and a longer prefix passes the 108-byte Unix
# socket path limit ("Cannot fit name" on the first build)
work=$(mktemp -d /tmp/bab.XXXXXX)
trap 'rm -rf "$work/base" "$work/change"' EXIT # exported trees and their builds
echo "bench_ab: work files in $work"

checkout() { # <ref-or-dir> <name> -> prints the tree to run in
  if [ -d "$1" ]; then (cd "$1" && pwd)
  else
    mkdir -p "$work/$2"
    git -C "$repo" archive "$1" | tar -x -C "$work/$2"
    echo "$work/$2"
  fi
}
base_dir=$(checkout "$base_arg" base)
change_dir=$(checkout "$change_arg" change)

run() { # <side> <dir> <seed>
  local out="$work/$1-$3.json"
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 2> "$work/$1-$3.log") | tail -n 1 > "$out"
  python3 - "$out" <<'EOF'
import json, sys
r = json.load(open(sys.argv[1]))
if not r["correct"] or r["failed"]:
    sys.exit(f"{sys.argv[1]}: correct={r['correct']} failed={r['failed']}")
EOF
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then run base "$base_dir" $seed; run change "$change_dir" $seed
  else run change "$change_dir" $seed; run base "$base_dir" $seed; fi
  echo "pair $((i + 1))/$pairs (seed $seed) done"
done

python3 - "$work" "$seed0" "$pairs" "$repo/BENCHMARK.json" <<'EOF'
import json, statistics, sys
work, seed0, pairs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
seeds = range(seed0, seed0 + pairs)
def value(side, seed, name):
    return json.load(open(f"{work}/{side}-{seed}.json"))["metrics"][name]["value"]
def q(xs):
    if len(xs) < 2:  # one pair: no spread to report
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3
for m in json.load(open(sys.argv[4]))["end_to_end"]:
    name, better = m["name"], m["better"]
    base = [value("base", s, name) for s in seeds]
    change = [value("change", s, name) for s in seeds]
    wins = sum((c < b) if better == "lower" else (c > b) for b, c in zip(base, change))
    (b1, bm, b3), (c1, cm, c3) = q(base), q(change)
    gap = bm - cm if better == "lower" else cm - bm
    print(f"{name} ({better} is better, bound {m['bound']:.0%}), {pairs} pairs")
    print("  per seed (base / change): " + ", ".join(
        f"{s}: {b:.4g} / {c:.4g}" for s, b, c in zip(seeds, base, change)))
    print(f"  base:   median {bm:.4g}  quartiles {b1:.4g} .. {b3:.4g}")
    print(f"  change: median {cm:.4g}  quartiles {c1:.4g} .. {c3:.4g}")
    print(f"  change wins {wins}/{pairs} pairs; median gap {gap:.4g} "
          f"vs base quartile spread {b3 - b1:.4g}")
EOF
