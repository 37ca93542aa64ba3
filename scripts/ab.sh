#!/bin/bash
# Paired same-session A/B of two revisions, on one perfbench workload or
# on a set of graft.Bench gates.
#
# Usage: scripts/ab.sh --base REV --change REV --workload curate|ingest \
#          --pairs N [--seed S]
#        scripts/ab.sh --base REV --change REV --gates G1,G2,... \
#          --pairs N [--sf DIR]
#
# N must be at least 10: the claim rule reads 9 wins in 10 pairs, and
# below that the quartiles of a handful of runs are too narrow for
# `resolved` to mean anything (at N = 2 the base IQR is half the range
# of two runs, and a same-revision run read resolved).
#
# Each revision is extracted with `git archive` into its own directory
# under a fresh temporary directory (under $TMPDIR) and is built from its
# own sources. Each side first makes one discarded warm-up run (build,
# seeded inputs, file cache). Then N pairs run back to back; odd pairs
# run the base first, even pairs the change first. A run that fails
# stops the script.
#
# --workload: every run is
#   python3 perfbench/run.py --workload W --seed S --seconds T --trace 0
# with T the `run_seconds` of the change's BENCHMARK.json and S default 1;
# a run that reports correct:false stops the script. The metrics are the
# end-to-end metrics of the change's BENCHMARK.json.
# --gates: each side's classes come from its own perfbench/build.py, and
# every run is one graft.Bench JVM (local[$SPARK_GRAFT_CPUS], default 4;
# heap $SPARK_DRIVER_MEM, default 6g, pre-sized) with SPARK_GRAFT_ONLY set
# to the gates and SPARK_GRAFT_SF_DIR to --sf (default /root/testdata/sf0.1).
# A gate's metric is its Bench seconds (the faster of Bench's two passes);
# a failed gate (-1) stops the script.
#
# The record, AB_<change sha7>.json in the current directory, holds, per
# workload (under "workloads") or for the gate set (under "gates"), per
# metric:
#   base / change   median, q1, q3 of the N runs (inclusive quartiles)
#   wins            pairs in which the change was better than the base
#   base_iqr        q3 - q1 of the base runs
#   rel_change      (change - base) / base of the medians, signed so that
#                   positive is better
#   within_bound    (workloads) the change's median is not worse than the
#                   base's by more than the metric's bound
#   within_iqr      (gates) the change's median is not worse than the
#                   base's by more than base_iqr
#   resolved        wins >= 0.9 N and the change's median is better than
#                   the base's by more than base_iqr
# An existing record for the same change keeps its other entries.
set -euo pipefail

usage() {
  echo "usage: $0 --base REV --change REV --workload curate|ingest --pairs N(>=10) [--seed S]" >&2
  echo "       $0 --base REV --change REV --gates G1,G2,... --pairs N(>=10) [--sf DIR]" >&2
  exit 2
}
base= change= workload= gates= pairs= seed=1 sf=/root/testdata/sf0.1
while [ $# -gt 0 ]; do
  case "$1" in
    --base) base=${2:-}; shift 2 ;;
    --change) change=${2:-}; shift 2 ;;
    --workload) workload=${2:-}; shift 2 ;;
    --gates) gates=${2:-}; shift 2 ;;
    --pairs) pairs=${2:-}; shift 2 ;;
    --seed) seed=${2:-}; shift 2 ;;
    --sf) sf=${2:-}; shift 2 ;;
    *) usage ;;
  esac
done
[ -n "$base" ] && [ -n "$change" ] || usage
if [ -n "$gates" ]; then
  [ -z "$workload" ] && [[ "$gates" =~ ^[a-z0-9_]+(,[a-z0-9_]+)*$ ]] || usage
  [ -d "$sf" ] || { echo "$0: no tables at $sf" >&2; exit 2; }
  sf=$(cd "$sf" && pwd)
else
  [[ "$workload" =~ ^(curate|ingest)$ ]] || usage
fi
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

add_opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  add_opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
heap=${SPARK_DRIVER_MEM:-6g}

# one_run <side>: one run of that side, its stdout to stdout
one_run() {
  if [ -n "$gates" ]; then
    (cd "$work/$1" && SPARK_GRAFT_ONLY=$gates SPARK_GRAFT_SF_DIR=$sf \
      java "${add_opens[@]}" "-Xmx$heap" "-Xms$heap" -XX:+UseG1GC \
        -XX:G1HeapRegionSize=32m -Dspark.ui.enabled=false \
        -Dspark.sql.session.timeZone=UTC -cp "$(cat "$work/$1.cp")" graft.Bench)
  else
    (cd "$work/$1" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$seconds" --trace 0)
  fi
}

# run <side> <label>: one run; its result line goes to $work/<label>.json
run() {
  local side=$1 label=$2
  echo "== $label ($side): start $(date -u +%H:%M:%S)" >&2
  if ! one_run "$side" >"$work/$label.out" 2>"$work/$label.log"; then
    echo "== $label failed; last lines of its log:" >&2
    tail -20 "$work/$label.log" >&2
    exit 1
  fi
  if [ -n "$gates" ]; then
    grep -F '"queries":' "$work/$label.out" | tail -n1 >"$work/$label.json"
    python3 -c 'import json, sys; q = json.load(open(sys.argv[1]))["queries"]
sys.exit(0 if all(q.get(g, -1) >= 0 for g in sys.argv[2].split(",")) else 1)' \
      "$work/$label.json" "$gates" \
      || { echo "== $label: a gate failed or is unknown" >&2; exit 1; }
  else
    tail -n1 "$work/$label.out" >"$work/$label.json"
    python3 -c 'import json, sys; sys.exit(0 if json.load(open(sys.argv[1]))["correct"] else 1)' \
      "$work/$label.json" || { echo "== $label reported correct:false" >&2; exit 1; }
  fi
}

if [ -n "$gates" ]; then
  for side in base change; do
    echo "== build $side: start $(date -u +%H:%M:%S)" >&2
    (cd "$work/$side" && python3 perfbench/build.py) >"$work/$side.cp" 2>"$work/build-$side.log" \
      || { echo "== build $side failed" >&2; tail -20 "$work/build-$side.log" >&2; exit 1; }
  done
fi

run base warmup-base
run change warmup-change
for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) = 1 ]; then order="base change"; else order="change base"; fi
  for side in $order; do run "$side" "pair$i-$side"; done
done

python3 - "$work" "$pairs" "$workload" "$seed" "$seconds" "$base_sha" "$change_sha" "$out" \
    "$gates" "$sf" <<'EOF'
import json, os, statistics, sys
work, pairs, workload, seed, seconds, base_sha, change_sha, out, gates, sf = sys.argv[1:]
pairs = int(pairs)
runs = {side: [json.load(open(os.path.join(work, f"pair{i}-{side}.json")))
               for i in range(1, pairs + 1)] for side in ("base", "change")}
if gates:
    metrics = [{"name": g, "unit": "s", "better": "lower"}
               for g in gates.split(",")]
    runs = {side: [{g: {"value": v} for g, v in r["queries"].items()} for r in rs]
            for side, rs in runs.items()}
else:
    metrics = json.load(open(os.path.join(work, "change", "BENCHMARK.json")))["end_to_end"]
    runs = {side: [r["metrics"] for r in rs] for side, rs in runs.items()}

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
        "unit": m["unit"], "better": m["better"],
        "base": sb, "change": sc, "wins": wins, "base_iqr": iqr, "rel_change": rel,
        "resolved": wins * 10 >= 9 * pairs and gain > iqr}
    if gates:
        result[name]["within_iqr"] = gain >= -iqr
    else:
        result[name].update(bound=m["bound"], within_bound=rel >= -m["bound"])

rec = json.load(open(out)) if os.path.exists(out) else {}
if rec.get("change") not in (None, change_sha):
    sys.exit(f"{out} records change {rec['change']}, not {change_sha}")
rec["change"] = change_sha
order = "odd pairs base first, even pairs change first"
if gates:
    rec["gates"] = {"base": base_sha, "pairs": pairs, "sf": sf, "order": order,
                    "metrics": result}
else:
    rec.setdefault("workloads", {})[workload] = {
        "base": base_sha, "pairs": pairs, "seed": int(seed), "seconds": float(seconds),
        "order": order, "metrics": result}
with open(out, "w") as f:
    json.dump(rec, f, indent=1)
    f.write("\n")
for name, r in result.items():
    within = f"within_iqr {r['within_iqr']}" if gates else f"within_bound {r['within_bound']}"
    print(f"{workload or 'gates'} {name:14s} base {r['base']['median']:10.2f} "
          f"change {r['change']['median']:10.2f} wins {r['wins']}/{pairs} "
          f"iqr {r['base_iqr']:8.2f} rel {r['rel_change']:+.3f} "
          f"{within} resolved {r['resolved']}", file=sys.stderr)
print(f"wrote {out}", file=sys.stderr)
EOF
trap - EXIT
rm -rf "$work"
