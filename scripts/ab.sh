#!/bin/bash
# Interleaved code-change A/B of graft.Bench: a base class tree ("old")
# against the current build ("new"), alternated round by round in one
# window so both sides see the same host load.
# Usage: scripts/ab.sh <outdir> [rounds=3] [subset] [base-classes]
#   subset        comma-separated query names (SPARK_GRAFT_ONLY); omit
#                 for the whole catalog
#   base-classes  compiled class tree of the base side
#                 (default target/classes_base)
# Bench reads its fixture dir from SPARK_GRAFT_SF_DIR (default sf0.1).
set -e
cd "$(dirname "$0")/.."
OUT=$1; ROUNDS=${2:-3}; SUB=$3; BASE=${4:-target/classes_base}
if [ -z "$OUT" ]; then echo "usage: $0 <outdir> [rounds] [subset] [base-classes]" >&2; exit 2; fi
if [ ! -d "$BASE" ]; then echo "no base class tree at $BASE" >&2; exit 2; fi
BASE=$(cd "$BASE" && pwd)
mkdir -p "$OUT"
# An empty SPARK_GRAFT_ONLY is refused by Bench: export it only for a subset.
if [ -n "$SUB" ]; then export SPARK_GRAFT_ONLY="$SUB"; fi
for r in $(seq 1 "$ROUNDS"); do
  for v in old new; do
    CLS=""
    [ "$v" = old ] && CLS="$BASE"
    echo "== round $r $v $(date +%T) loadavg=$(cut -d' ' -f1 /proc/loadavg)"
    SPARK_GRAFT_STEADY_RUNS=3 \
    SPARK_GRAFT_CLASSES="$CLS" \
    SPARK_GRAFT_BENCH_OUT="$OUT/${v}_r${r}.json" \
    SPARK_GRAFT_HIST="$OUT/hist.jsonl" \
    scripts/run.sh graft.Bench > "$OUT/${v}_r${r}.log" 2>&1 || echo "FAILED $v r$r"
  done
done
echo DONE
