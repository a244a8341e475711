#!/bin/bash
# Scale recapture: the structural subset at 10x/30x/100x/300x of sf0.1,
# into stamped files nothing overwrites, each capture bracketed by
# /proc/stat steal readings, plus a graft.Time shuffle/spill readout of
# the bounded-state rewrites at the 300x point. Runs at the host's width
# ($(nproc) local cores). Run detached (nohup); writes a sentinel when
# finished.
#
# Usage: scripts/recapture.sh <tag> <sf0.1 dir>
#   <tag> (e.g. r19) stamps every output file: target/bench_scale300_<tag>.json,
#   target/time300_<tag>.log; <sf0.1 dir> is the base corpus the scaled
#   corpora are built from.
set -u
TAG=${1:?usage: scripts/recapture.sh <tag> <sf0.1 dir>}
SF01=${2:?usage: scripts/recapture.sh <tag> <sf0.1 dir>}
SF01=$(realpath "$SF01") || exit 1
CPUS=$(nproc)
cd "$(dirname "$0")/.."
rm -f "target/RECAPTURE_${TAG}_DONE" "target/RECAPTURE_${TAG}_FAILED"

# Structural subset: the bounded-state rewrites (the lines this capture
# exists to validate at scale), the pinned/rewritten queries, and two
# untouched controls (count = constant floor, ingest_decode = linear
# map-side wall).
STRUCT="docs_source_novelty,docs_lm_surprise,docs_source_overlap,\
docs_source_overlap_capped,docs_temperature_mix,docs_fuzzy_contamination,\
emb_semantic_dedup_capped,docs_tfidf_top,docs_bm25_topk,docs_phrase_search,\
events_cohort_set_ops,docs_simhash_hamming,docs_dedup_then_simhash,\
trades_count,trades_ingest_decode"

fail() { touch "target/RECAPTURE_${TAG}_FAILED"; exit 1; }

steal_file() { grep '^cpu ' /proc/stat > "$1"; }

ensure() {
  if [ ! -f "$1/documents.parquet/_SUCCESS" ]; then
    SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.ScaleCorpus $SF01 $1 $2" \
      > "target/scalegen_$2_${TAG}.log" 2>&1 || fail
  fi
}
ensure target/scale10 10
ensure target/scale30 30
ensure target/scale100 100
ensure target/scale300 300

run() { # sfdir out reps log
  steal_file "$2.steal_pre"
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_OUT="$2" \
    SPARK_GRAFT_BENCH_REPS="$3" SPARK_GRAFT_BENCH_ONLY="$STRUCT" \
    sbt -batch "runMain graft.Bench" > "$4" 2>&1 || fail
  steal_file "$2.steal_post"
}

run "$SF01" "target/bench_struct_sf01_${TAG}.json" 3 "target/bench_struct_sf01_${TAG}.log"
run target/scale10  "target/bench_scale10_${TAG}.json"  3 "target/bench10_${TAG}.log"
run target/scale30  "target/bench_scale30_${TAG}.json"  3 "target/bench30_${TAG}.log"
run target/scale100 "target/bench_scale100_${TAG}.json" 3 "target/bench100_${TAG}.log"
run target/scale300 "target/bench_scale300_${TAG}.json" 1 "target/bench300_${TAG}.log"

# shuffle/spill readout at 300x for the bounded-state rewrites: one
# TIME line per run with shuffle_mb and spill_{mem,disk}_mb
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Time target/scale300 \
docs_source_novelty docs_lm_surprise docs_source_overlap docs_source_overlap_capped \
docs_temperature_mix docs_tfidf_top" > "target/time300_${TAG}.log" 2>&1 || fail

for f in "target/bench_struct_sf01_${TAG}.json" "target/bench_scale10_${TAG}.json" \
         "target/bench_scale30_${TAG}.json" "target/bench_scale100_${TAG}.json" \
         "target/bench_scale300_${TAG}.json"; do
  python3 -c "
import json, sys
d = json.load(open('$f'))
sys.exit(0 if d['n_queries'] > 0 and d['n_failed'] == 0 else 1)" || fail
done
touch "target/RECAPTURE_${TAG}_DONE"
