#!/bin/bash
# Round-4 scaling campaign (verdict tasks 2 + 10), one long quiet-window
# run. Protocol per BENCH.md: one timed level per fresh JVM, reps
# interleaved across levels, best-per-level; flagship = full pipeline
# with coref (one-shuffle mention stage, the round-4 default).
set -u
cd /root/repo
OUT=bench_evidence/r4_scale_results.jsonl
: > "$OUT"
run_level() {
  local cpus=$1
  GRAFT_SCALE_CONVS=2000000 sbt -batch "runMain graft.ScalingBench $cpus" 2>&1 |
    grep -o '{"metric":"scaling_level".*}' >> "$OUT"
  echo "[campaign] scaling level cpus=$cpus done $(date -u +%H:%M:%S)"
}
# 2v8 flagship: two interleaved reps per level
for rep in 1 2; do
  run_level 2
  run_level 8
done
# task 10: one 32-core rep — 8v32 efficiency uses the best 8-core rep above
run_level 32
# stage-level profile at 2 and 8 cores on the 26M-turn corpus (r3
# comparison scale)
for c in 2 8; do
  sbt -batch "runMain graft.StageProfile 4000000 $c" \
    > bench_evidence/r4_stageprof_oneshot_$c.log 2>&1
  echo "[campaign] stageprof oneshot cpus=$c done $(date -u +%H:%M:%S)"
done
echo "[campaign] ALL DONE $(date -u +%H:%M:%S)"
