#!/bin/bash
# Interleaved code-change A/B: old classes vs new classes, same window.
set -e
cd /root/repo
OUT=$1; ROUNDS=${2:-3}; SUB=$3
mkdir -p "$OUT"
# An empty SPARK_GRAFT_ONLY is refused by Bench: export it only for a subset.
if [ -n "$SUB" ]; then export SPARK_GRAFT_ONLY="$SUB"; fi
for r in $(seq 1 "$ROUNDS"); do
  for v in old new; do
    CLS=""
    [ "$v" = old ] && CLS=/root/repo/target/classes_r18
    echo "== round $r $v $(date +%T) loadavg=$(cut -d' ' -f1 /proc/loadavg)"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_STEADY_RUNS=2 \
    SPARK_GRAFT_CLASSES="$CLS" \
    SPARK_GRAFT_BENCH_OUT="$OUT/${v}_r${r}.json" \
    SPARK_GRAFT_HIST="$OUT/hist.jsonl" \
    scripts/run.sh graft.Bench > "$OUT/${v}_r${r}.log" 2>&1 || echo "FAILED $v r$r"
  done
done
echo DONE
