#!/bin/bash
# Regenerate a round's standing artifacts in the repo root.
#
#   tools/artifacts.sh <round> <testdata> [timed|untimed]
#
# <testdata> is the directory holding the sf0.01 and sf0.1 corpora.
# The timed chain (run first, on an otherwise idle machine): ScaleCheck
# on the 10x corpus -> ScaleCheck on the 100x corpus (ratio vs the 10x
# run, known twin skips) -> BenchAmp (3 sessions) -> AnnServe ->
# AnnAudit. The untimed chain: Verify over the full registry at sf0.1
# -> tools/check.py and tools/check_pandas.py -> PlanSummary at sf0.01
# plus tools/plan_diff.py against the previous round's PLANSUMMARY ->
# NoBroadcastVerify + tools/check.py. With no third argument both run,
# timed first, so nothing untimed skews the timings. Compose the
# SWEEP_SF01/NOBROADCAST artifacts afterwards with
# `python3 tools/compose.py <round>`.
#
# The timed chain needs the amplified corpora /tmp/amp10 and /tmp/amp100
# (graft.tools.Amplify).
# Classes are pinned to a snapshot so later compiles cannot swap class
# files under the running JVMs. Per-pipeline-stage timings are
# perfbench's `curate` workload (curate.stage.*, curate.rows.*).
set -e
[ -n "$2" ] || { echo "usage: $0 <round> <testdata> [timed|untimed]" >&2; exit 2; }
R=$(printf "%02d" "$((10#$1))")
TESTDATA=$(cd "$2" && pwd)
CHAIN=${3:-all}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
cd "$ROOT"
WORK=/tmp/graft_r$R
mkdir -p "$WORK"
SNAP=$WORK/classes
[ -d "$SNAP" ] || cp -r target/scala-2.13/classes "$SNAP"
export GRAFT_CLASSES="$SNAP"
SF01=$TESTDATA/sf0.1
SF001=$TESTDATA/sf0.01
step() { echo "=== $1 $(date +%T)"; }

if [ "$CHAIN" != untimed ]; then
  for f in 10 100; do
    [ -d /tmp/amp$f ] || { echo "missing /tmp/amp$f; build it with:" \
      "tools/runjvm.sh graft.tools.Amplify $SF01 /tmp/amp$f $f" >&2; exit 2; }
  done
  step "ScaleCheck 10x"
  tools/runjvm.sh graft.tools.ScaleCheck /tmp/amp10 "$ROOT/SCALE_r$R.json" 2>&1 | tail -3
  step "ScaleCheck 100x"
  SPARK_DRIVER_MEM=48g tools/runjvm.sh graft.tools.ScaleCheck /tmp/amp100 "$ROOT/SCALE100_r$R.json" \
    q23_dedup_minhash,q24_dedup_simhash,q25_dedup_ngram,q26_embed_neardup,q44_overlap_pairs \
    "$ROOT/SCALE_r$R.json" 2>&1 | tail -5
  step BenchAmp
  tools/runjvm.sh graft.tools.BenchAmp /tmp/amp10 "$ROOT/BENCHAMP_r$R.json" 2>&1 | tail -3
  step AnnServe
  tools/runjvm.sh graft.tools.AnnServe /tmp/amp100 "$ROOT/ANNSERVE_r$R.json" 2>&1 | tail -3
  step AnnAudit
  tools/runjvm.sh graft.tools.AnnAudit $SF01 "$ROOT/ANN_RECALL_r$R.json" 2>&1 | tail -3
fi

if [ "$CHAIN" != timed ]; then
  step "Verify sf0.1"
  tools/runjvm.sh graft.Verify $SF01 "$WORK/sweep" 2>&1 | grep -E "failed" || true
  step check.py
  python3 tools/check.py $SF01 "$WORK/sweep" > "$WORK/sweep_fetchall.txt" 2>&1 || true
  tail -1 "$WORK/sweep_fetchall.txt"
  step check_pandas.py
  python3 tools/check_pandas.py $SF01 "$WORK/sweep" > "$WORK/sweep_pandas.txt" 2>&1 || true
  tail -1 "$WORK/sweep_pandas.txt"
  step PlanSummary
  tools/runjvm.sh graft.tools.PlanSummary $SF001 "$ROOT/PLANSUMMARY_r$R.json" 2>&1 | tail -1
  PREV=$(ls PLANSUMMARY_r*.json | sed -n 's/^PLANSUMMARY_r\([0-9]*\)\.json$/\1/p' \
    | awk -v r="$((10#$R))" '$1 + 0 < r' | sort -n | tail -1)
  if [ -n "$PREV" ]; then
    python3 tools/plan_diff.py "PLANSUMMARY_r$PREV.json" "PLANSUMMARY_r$R.json" || true
  fi
  step NoBroadcastVerify
  tools/runjvm.sh graft.tools.NoBroadcastVerify $SF001 "$WORK/nobc" 2>&1 | tail -1
  python3 tools/check.py $SF001 "$WORK/nobc" > "$WORK/nobc_check.txt" 2>&1 || true
  tail -1 "$WORK/nobc_check.txt"
fi
step done
