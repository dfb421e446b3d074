#!/usr/bin/env bash
# Fresh-JVM canary bench (see graft.Canary's scaladoc for the protocol).
#
#   scripts/canary.sh [baseline-CANARY.json]
#
# Runs the pinned canary set (46 queries since round 17) at sf0.1 in a fresh JVM
# (median-of-5 after one warm-up), writes CANARY.json, and — when a
# baseline file is given — prints the ±20% gate verdict per query.
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
if [ $# -ge 1 ]; then
  export SPARK_GRAFT_CANARY_BASELINE="$1"
fi
sbt -batch "runMain graft.Canary" 2>&1 | grep '"metric":"canary"' | sed 's/^\[info\] //'
