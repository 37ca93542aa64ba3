#!/bin/bash
# Cut the round records that ArtifactFreshnessSpec checks, at the current
# commit, into the repo root:
#
#   1. graft.Bench at sf0.1             -> BENCH_LOCAL_r<N>.json
#   2. scripts/make_sf1.py, then
#      graft.Bench at sf1               -> BENCH_SF1_r<N>_FULL.json
#   3. Test/runMain graft.ExplainAudit  -> PLAN_AUDIT_r<N>.txt
#
# Usage: scripts/cut_artifacts.sh [--skip-local] N
#   --skip-local  skip step 1 (the newest BENCH_LOCAL record is still
#                 stamped at a commit with the same src/main and build.sbt)
#
# Environment (all optional):
#   SF01_DIR          sf0.1 tables (default: graft.Bench's own default)
#   SF1_DIR           where make_sf1.py writes sf1 (default /tmp/graft_sf1)
#   AUDIT_SF_DIR      ExplainAudit tables (default: ExplainAudit's default)
#   SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM, SBT_OPTS  passed through to sbt.
#     The run JVM pre-sizes its heap to SPARK_DRIVER_MEM (-Xms), so on a
#     15 GB host use SPARK_DRIVER_MEM=10g with sbt itself at -Xmx2g.
#
# Bench records are stamped with the commit they were cut at, and
# ArtifactFreshnessSpec compares src/main and build.sbt against that
# stamp; so the script refuses to run on a tree where either differs
# from HEAD. It writes nothing into the repo unless every record passes:
# full_suite:true, no negative (failed) entry, the stamp equal to HEAD,
# and the audit's "AUDITED n/n" line with n gate lines.
set -euo pipefail

skip_local=0
if [ "${1:-}" = "--skip-local" ]; then skip_local=1; shift; fi
N=${1:-}
if ! [[ "$N" =~ ^[0-9]+$ ]] || [ $# -ne 1 ]; then
  echo "usage: $0 [--skip-local] N" >&2
  exit 2
fi

cd "$(dirname "$0")/.."
if [ -n "$(git status --porcelain -- src/main build.sbt)" ]; then
  echo "refusing: src/main or build.sbt differs from HEAD; commit first" >&2
  git status --short -- src/main build.sbt >&2
  exit 1
fi
if [ -n "${SPARK_GRAFT_ONLY:-}" ]; then
  echo "refusing: SPARK_GRAFT_ONLY is set; records must cover the full suite" >&2
  exit 1
fi
# make_sf1.py takes its source and destination together or not at all
if [ -n "${SF1_DIR:-}" ] && [ -z "${SF01_DIR:-}" ]; then
  echo "SF1_DIR needs SF01_DIR as well" >&2
  exit 2
fi
sf1_dir=${SF1_DIR:-/tmp/graft_sf1}
head_sha=$(git rev-parse HEAD)

local_out=BENCH_LOCAL_r$N.json
sf1_out=BENCH_SF1_r${N}_FULL.json
audit_out=PLAN_AUDIT_r$N.txt
outs=("$sf1_out" "$audit_out")
[ $skip_local = 1 ] || outs=("$local_out" "${outs[@]}")
for f in "${outs[@]}"; do
  if [ -e "$f" ]; then echo "refusing: $f already exists" >&2; exit 1; fi
done

work=$(mktemp -d)
trap 'echo "logs kept in $work" >&2' EXIT
timings=()
step() { # step <label> <command...>: run, time, and log to $work/<label>.log
  local label=$1; shift
  local t0=$SECONDS
  echo "== $label: start $(date -u +%H:%M:%S)" >&2
  if ! "$@" >"$work/$label.log" 2>&1; then
    echo "== $label failed; last lines of its log:" >&2
    tail -20 "$work/$label.log" >&2
    exit 1
  fi
  timings+=("$label $((SECONDS - t0)) s")
  echo "== $label: done in $((SECONDS - t0)) s" >&2
}

# bench <label> <sf dir, or empty for graft.Bench's default>: one
# graft.Bench run, record copied to $work/<label>.json and checked
bench() {
  local label=$1 sf=$2
  rm -f target/bench_full.json
  step "$label" env -u SPARK_GRAFT_SF_DIR ${sf:+"SPARK_GRAFT_SF_DIR=$sf"} \
    sbt --batch "runMain graft.Bench"
  cp target/bench_full.json "$work/$label.json"
  python3 - "$work/$label.json" "$head_sha" "$sf" <<'EOF'
import json, sys
path, head, sf = sys.argv[1:]
rec = json.load(open(path))
bad = []
if rec.get("full_suite") is not True:
    bad.append("full_suite is not true")
if sf and rec.get("sf") != sf:
    bad.append(f"sf is {rec.get('sf')}, not {sf}")
neg = sorted(k for k, v in rec["queries"].items() if v < 0)
if neg:
    bad.append(f"{len(neg)} failed entries: {neg[:5]}")
if not head.startswith(rec.get("git_head", "")) or len(rec.get("git_head", "")) < 7:
    bad.append(f"git_head {rec.get('git_head')} is not HEAD {head[:7]}")
if bad:
    sys.exit(f"{path}: " + "; ".join(bad))
print(f"{path}: {len(rec['queries'])} items, total {rec['value']:.1f} s, "
      f"git_head {rec['git_head']}", file=sys.stderr)
EOF
}

if [ $skip_local = 0 ]; then
  bench sf01 "${SF01_DIR:-}"
fi

step make_sf1 python3 scripts/make_sf1.py ${SF01_DIR:+"$SF01_DIR" "$sf1_dir"}
bench sf1 "$sf1_dir"

# ExplainAudit prints through sbt, which prefixes each forwarded stdout
# line with "[info] "; keep only the gate, ReadSchema and AUDITED lines
step audit sbt --batch -Dsbt.log.noformat=true \
  "Test/runMain graft.ExplainAudit ${AUDIT_SF_DIR:-}"
{
  echo "# PLAN_AUDIT r$N - ExplainAudit at ${AUDIT_SF_DIR:-sf0.01 (default)}, AQE-finalized plans, git ${head_sha:0:7}"
  sed -n 's/^\[info\] //p' "$work/audit.log" |
    grep -E '^[A-Za-z0-9_]+ +pushdown=|^    ReadSchema: |^AUDITED '
} >"$work/audit.txt"
gates=$(grep -cE '^[A-Za-z0-9_]+ +pushdown=' "$work/audit.txt" || true)
if ! grep -qE "^AUDITED $gates/$gates gates \(full suite\)" "$work/audit.txt"; then
  echo "audit: no 'AUDITED $gates/$gates' line; last lines:" >&2
  tail -5 "$work/audit.txt" >&2
  exit 1
fi
echo "audit: $gates gates" >&2

[ $skip_local = 1 ] || cp "$work/sf01.json" "$local_out"
cp "$work/sf1.json" "$sf1_out"
cp "$work/audit.txt" "$audit_out"
echo "wrote ${outs[*]} at ${head_sha:0:7}" >&2
printf '%s\n' "${timings[@]}" >&2
trap - EXIT
rm -rf "$work"
