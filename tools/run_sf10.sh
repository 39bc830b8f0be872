#!/bin/bash
# One full-registry bench sweep at the 100x replica scale (bench_sf10, built
# by tools/make_sfN.py). Usage: run_sf10.sh <runN> [sf_dir] [tag]
# n_failed is 2 at sf10 by design: the exact ε-pair anchors q50/q51 throw
# at the exact kernel's size guard ("Use blockedEpsPairs"), so the record
# lists them in `failed` and the message is in the .raw log; their blocked
# twins q52/q124 are the scale path.
# In-boot repetition stays n=1 (BENCH_RUNS=1): the sweep methodology is
# medians ACROSS boots.
cd "$(dirname "$0")/.."
RUN=${1:-1}
SF_DIR=${2:-$PWD/bench_sf10}
TAG=${3:-sf10}
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_RUNS=1 \
  sbt -batch "runMain graft.Bench" > bench/${TAG}_run$RUN.raw 2>&1
grep -o '{"metric".*' bench/${TAG}_run$RUN.raw | head -1 > bench/${TAG}_run$RUN.json
echo DONE_RUN_$RUN
