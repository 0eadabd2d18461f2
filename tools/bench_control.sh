#!/usr/bin/env bash
# Same-session paired bench: the previous round's code and HEAD, built once
# each and run INTERLEAVED (prev, HEAD, prev, HEAD, ...) on one host, so
# regression claims don't rest on cross-session VM variance — and so
# monotone drift WITHIN the session (the round-6 confound: prev always ran
# first, so a slowing host read as a fake HEAD regression) hits both
# binaries symmetrically. Per-query times are min across each binary's runs
# (merged by bench_control_merge.py).
#
# Round-18 hardening (the round-17 postmortem: a ~25% host step between
# run 1 and run 2 turned min-of-2 into a fake 17% HEAD regression because
# min(prev) came from the only clean window):
#  - PASS-GRANULARITY interleave: each run is ONE bench pass (PASSES=1)
#    and the pair is repeated ROUNDS times (default 3), so a host step
#    lands inside at most one (prev, head) pair instead of poisoning one
#    binary's entire sample.
#  - SAME-BINARY DRIFT GATE: the merge script computes the per-query
#    geomean of each binary's last run over its first run. If either
#    drift exceeds 1.10, the headline ratio is WITHHELD (null) — the
#    session was not a valid measurement window and the raw value is
#    kept under headline_ungated for forensics only.
#
# Usage: tools/bench_control.sh <prev-ref> [sfDir] [rounds] [passes-per-run]
# Both binaries run with SPARK_GRAFT_CPUS cores if it is exported, else
# with every core of the host (nproc). The prev-ref is checked out in a
# throwaway clone under tmp/. Emits BENCH_control.json at the repo root:
# both totals, per-query times, common-query ratios (head/prev) with the
# median + geomean, and the per-binary drift fields.
#
# NEVER run anything else Spark-sized while this is running — two Spark
# JVMs oversubscribe the host's cores and timings inflate 10-40x.
set -euo pipefail
PREV=${1:?usage: bench_control.sh <prev-ref> [sfDir] [rounds] [passes-per-run]}
SF=${2:-/root/testdata/sf0.1}
ROUNDS=${3:-3}
PASSES=${4:-1}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
ROOT=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
WT=$ROOT/tmp/bench_ctl_prev
mkdir -p "$ROOT/tmp"
rm -rf "$WT"
git clone --quiet "$ROOT" "$WT"
git -C "$WT" checkout --quiet "$PREV"

run_bench() { # run_bench <dir> <tag>
  (cd "$1" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_PASSES="$PASSES" \
    sbt -batch "runMain graft.Bench" > "$ROOT/tmp/bench_ctl_$2.log" 2>&1)
  cp "$1/BENCH.json" "$ROOT/tmp/bench_ctl_$2.json"
}

PREV_FILES=()
HEAD_FILES=()
for i in $(seq 1 "$ROUNDS"); do
  echo "[bench-control] round $i/$ROUNDS: prev ($PREV) ..."
  run_bench "$WT" "prev$i"
  PREV_FILES+=("$ROOT/tmp/bench_ctl_prev$i.json")
  echo "[bench-control] round $i/$ROUNDS: HEAD ..."
  run_bench "$ROOT" "head$i"
  HEAD_FILES+=("$ROOT/tmp/bench_ctl_head$i.json")
done

python3 "$ROOT/tools/bench_control_merge.py" --prev-ref "$PREV" \
  --prev "${PREV_FILES[@]}" \
  --head "${HEAD_FILES[@]}" \
  > "$ROOT/BENCH_control.json"
rm -rf "$WT"
python3 -c "
import json
d = json.load(open('$ROOT/BENCH_control.json'))
keep = {k: v for k, v in d.items() if k not in ('ratios', 'prev_queries', 'head_queries')}
print(json.dumps(keep, indent=1))"
