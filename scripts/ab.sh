#!/bin/bash
# Paired same-session A/B of two revisions on one perfbench workload.
#
# Usage: scripts/ab.sh --base REV --change REV --workload curate|ingest \
#          --pairs N [--seed S]
#
# N must be at least 10: the claim rule reads 9 wins in 10 pairs, and
# below that the quartiles of a handful of runs are too narrow for
# `resolved` to mean anything (at N = 2 the base IQR is half the range
# of two runs, and a same-revision run read resolved).
#
# Each revision is extracted with `git archive` into its own directory
# under a fresh temporary directory (under $TMPDIR) and runs its own
# perfbench/run.py, so each side is built from its own sources. Each side
# first makes one discarded warm-up run (build, seeded inputs, file cache).
# Then N pairs run back to back; odd pairs run the base first, even pairs
# the change first. Every run is
#   python3 perfbench/run.py --workload W --seed S --seconds T --trace 0
# with T the `run_seconds` of the change's BENCHMARK.json and S default 1.
# A run that fails, or reports correct:false, stops the script.
#
# The record, AB_<change sha7>.json in the current directory, holds,
# per workload and per end-to-end metric of the change's BENCHMARK.json:
#   base / change   median, q1, q3 of the N runs (inclusive quartiles)
#   wins            pairs in which the change was better than the base
#   base_iqr        q3 - q1 of the base runs
#   rel_change      (change - base) / base of the medians, signed so that
#                   positive is better
#   within_bound    the change's median is not worse than the base's by
#                   more than the metric's bound
#   resolved        wins >= 0.9 N and the change's median is better than
#                   the base's by more than base_iqr
# An existing record for the same change keeps its other workloads.
set -euo pipefail

usage() {
  echo "usage: $0 --base REV --change REV --workload curate|ingest --pairs N(>=10) [--seed S]" >&2
  exit 2
}
base= change= workload= pairs= seed=1
while [ $# -gt 0 ]; do
  case "$1" in
    --base) base=${2:-}; shift 2 ;;
    --change) change=${2:-}; shift 2 ;;
    --workload) workload=${2:-}; shift 2 ;;
    --pairs) pairs=${2:-}; shift 2 ;;
    --seed) seed=${2:-}; shift 2 ;;
    *) usage ;;
  esac
done
[ -n "$base" ] && [ -n "$change" ] || usage
[[ "$workload" =~ ^(curate|ingest)$ ]] || usage
[[ "$pairs" =~ ^[1-9][0-9]*$ ]] && [[ "$seed" =~ ^[0-9]+$ ]] || usage
[ "$pairs" -ge 10 ] || { echo "$0: --pairs must be at least 10" >&2; usage; }

repo=$(cd "$(dirname "$0")/.." && pwd)
base_sha=$(git -C "$repo" rev-parse --verify "$base^{commit}")
change_sha=$(git -C "$repo" rev-parse --verify "$change^{commit}")
out=AB_${change_sha:0:7}.json

work=$(mktemp -d)
trap 'echo "runs kept in $work" >&2' EXIT
for side in base change; do
  sha=${side}_sha
  mkdir -p "$work/$side"
  git -C "$repo" archive "${!sha}" | tar -x -C "$work/$side"
done
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$work/change/BENCHMARK.json")

# run <side> <label>: one perfbench run; its result line goes to $work/<label>.json
run() {
  local side=$1 label=$2
  echo "== $label ($side): start $(date -u +%H:%M:%S)" >&2
  if ! (cd "$work/$side" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$seconds" --trace 0) \
      >"$work/$label.out" 2>"$work/$label.log"; then
    echo "== $label failed; last lines of its log:" >&2
    tail -20 "$work/$label.log" >&2
    exit 1
  fi
  tail -n1 "$work/$label.out" >"$work/$label.json"
  python3 -c 'import json, sys; sys.exit(0 if json.load(open(sys.argv[1]))["correct"] else 1)' \
    "$work/$label.json" || { echo "== $label reported correct:false" >&2; exit 1; }
}

run base warmup-base
run change warmup-change
for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) = 1 ]; then order="base change"; else order="change base"; fi
  for side in $order; do run "$side" "pair$i-$side"; done
done

python3 - "$work" "$pairs" "$workload" "$seed" "$seconds" "$base_sha" "$change_sha" "$out" <<'EOF'
import json, os, statistics, sys
work, pairs, workload, seed, seconds, base_sha, change_sha, out = sys.argv[1:]
pairs = int(pairs)
metrics = json.load(open(os.path.join(work, "change", "BENCHMARK.json")))["end_to_end"]
runs = {side: [json.load(open(os.path.join(work, f"pair{i}-{side}.json")))["metrics"]
               for i in range(1, pairs + 1)] for side in ("base", "change")}

def summary(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": q[1], "q1": q[0], "q3": q[2], "runs": xs}

result = {}
for m in metrics:
    name, sign = m["name"], (1 if m["better"] == "higher" else -1)
    if any(name not in r for side in runs.values() for r in side):
        continue  # a metric this workload does not report
    b = [r[name]["value"] for r in runs["base"]]
    c = [r[name]["value"] for r in runs["change"]]
    sb, sc = summary(b), summary(c)
    gain = sign * (sc["median"] - sb["median"])
    iqr = sb["q3"] - sb["q1"]
    wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
    rel = gain / abs(sb["median"]) if sb["median"] else 0.0
    result[name] = {
        "unit": m["unit"], "better": m["better"], "bound": m["bound"],
        "base": sb, "change": sc, "wins": wins, "base_iqr": iqr,
        "rel_change": rel, "within_bound": rel >= -m["bound"],
        "resolved": wins * 10 >= 9 * pairs and gain > iqr}

rec = json.load(open(out)) if os.path.exists(out) else {}
if rec.get("change") not in (None, change_sha):
    sys.exit(f"{out} records change {rec['change']}, not {change_sha}")
rec["change"] = change_sha
rec.setdefault("workloads", {})[workload] = {
    "base": base_sha, "pairs": pairs, "seed": int(seed), "seconds": float(seconds),
    "order": "odd pairs base first, even pairs change first", "metrics": result}
with open(out, "w") as f:
    json.dump(rec, f, indent=1)
    f.write("\n")
for name, r in result.items():
    print(f"{workload} {name:14s} base {r['base']['median']:10.2f} "
          f"change {r['change']['median']:10.2f} wins {r['wins']}/{pairs} "
          f"iqr {r['base_iqr']:8.2f} rel {r['rel_change']:+.3f} "
          f"within_bound {r['within_bound']} resolved {r['resolved']}", file=sys.stderr)
print(f"wrote {out}", file=sys.stderr)
EOF
trap - EXIT
rm -rf "$work"
