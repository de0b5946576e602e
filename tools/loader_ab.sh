#!/usr/bin/env bash
# A/B of the loader benchmark between two commits: N alternating pairs of
# untraced runs, each pair on a fresh seed, then each end-to-end metric's
# per-side median and quartiles, the change's win rate, and whether the
# gain rule holds (wins in at least 9/10 of the pairs and a median gap
# wider than the base's interquartile range).
#
#   tools/loader_ab.sh [-n pairs] [-s first_seed] [-w workload] [-t seconds]
#                      [-d work_dir] [base_ref [change_ref]]
#
# Defaults: 10 pairs, seeds 9001.., workload compact_trickle, the run
# length `run_seconds` of the change's BENCHMARK.json, base HEAD^ and
# change HEAD. Run from inside the repository. Each ref is exported with
# `git archive` into its own directory under the work directory (default:
# a new temporary directory), so only committed files are measured and the
# repository itself is not touched. Both sides are built before the first
# pair. Pair i runs the base first when i is even and the change first when
# it is odd. Every run's result line is kept in <work_dir>/runs.jsonl.
# The exit code is non-zero if a build fails, a run fails or reports
# `correct: false`.
set -euo pipefail

pairs=10 seed0=9001 workload=compact_trickle seconds= work=
while getopts "n:s:w:t:d:" opt; do
  case "$opt" in
    n) pairs="$OPTARG" ;;
    s) seed0="$OPTARG" ;;
    w) workload="$OPTARG" ;;
    t) seconds="$OPTARG" ;;
    d) work="$OPTARG" ;;
    *) sed -n '2,20p' "$0" >&2; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
base_ref="${1:-HEAD^}"
change_ref="${2:-HEAD}"

repo="$(git rev-parse --show-toplevel)"
work="${work:-$(mktemp -d "${TMPDIR:-/tmp}/loader_ab.XXXXXX")}"
mkdir -p "$work"
runs="$work/runs.jsonl"
: > "$runs"

for side in base change; do
  ref="$base_ref"; [ "$side" = change ] && ref="$change_ref"
  rm -rf "${work:?}/$side"
  mkdir -p "$work/$side"
  git -C "$repo" archive "$ref" | tar -x -C "$work/$side"
  echo "# $side = $ref ($(git -C "$repo" rev-parse --short "$ref"))" >&2
  (cd "$work/$side" && python3 loaderbench/run.py --selftest >/dev/null 2>"$work/$side.build.log") \
    || { echo "loader_ab: $side build failed, see $work/$side.build.log" >&2; exit 1; }
done
if [ -z "$seconds" ]; then
  seconds="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
    "$work/change/BENCHMARK.json")"
fi

failed=0
run_side() {  # side pair seed
  local out rc=0
  out="$(cd "$work/$1" && python3 loaderbench/run.py --workload "$workload" \
    --seed "$3" --seconds "$seconds" --trace 0 2>>"$work/$1.runs.log")" || rc=$?
  local last="${out##*$'\n'}"
  if [ "$rc" -ne 0 ] || [ "${last:0:1}" != "{" ]; then
    echo "# pair $2 $1 seed $3: run failed ($rc)" >&2
    failed=1
    last='{"correct": false, "metrics": {}}'
  fi
  printf '{"side": "%s", "pair": %d, "seed": %d, "result": %s}\n' "$1" "$2" "$3" "$last" >> "$runs"
  echo "# pair $2 $1 seed $3 done" >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run_side base "$i" "$seed"; run_side change "$i" "$seed"
  else
    run_side change "$i" "$seed"; run_side base "$i" "$seed"
  fi
done

python3 - "$runs" "$work/change/BENCHMARK.json" "$workload" "$pairs" "$seconds" <<'EOF' || failed=1
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
workload, pairs, seconds = sys.argv[3], int(sys.argv[4]), sys.argv[5]
by = {(r["side"], r["pair"]): r["result"] for r in runs}
bad = [f'{r["side"]} pair {r["pair"]}' for r in runs
       if not r["result"].get("correct") or r["result"].get("failed", 0)]

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"# {workload}: {pairs} alternating pairs, --seconds {seconds}, "
      f"seeds {runs[0]['seed']}..{runs[-1]['seed']}")
print(f"# {'metric':<22} {'base q1 / median / q3':>32} {'change q1 / median / q3':>32}"
      f" {'wins':>6}  gain rule")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    vals = {s: [by[(s, p)]["metrics"][name]["value"] for p in range(pairs)
                if name in by.get((s, p), {}).get("metrics", {})] for s in ("base", "change")}
    if not vals["base"] or len(vals["base"]) != len(vals["change"]):
        print(f"  {name:<22} missing values")
        continue
    b, c = quartiles(vals["base"]), quartiles(vals["change"])
    wins = sum((cv < bv) if lower else (cv > bv)
               for bv, cv in zip(vals["base"], vals["change"]))
    gap = (b[1] - c[1]) if lower else (c[1] - b[1])
    held = wins >= 0.9 * pairs and gap > b[2] - b[0]
    fmt = lambda q: f"{q[0]:.4g} / {q[1]:.4g} / {q[2]:.4g}"
    print(f"  {name:<22} {fmt(b):>32} {fmt(c):>32} {wins:>3}/{pairs:<2}  "
          f"{'holds' if held else 'no'} (median gap {gap:+.4g}, base IQR {b[2] - b[0]:.4g})")
print(f"# runs not correct or with failed syncs: {', '.join(bad) if bad else 'none'}")
sys.exit(1 if bad else 0)
EOF
echo "# runs: $runs" >&2
exit "$failed"
