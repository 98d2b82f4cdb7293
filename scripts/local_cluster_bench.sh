#!/usr/bin/env bash
# Multi-executor evidence run (SCALING.md): launch graft.Bench under
# spark-submit with a local-cluster master — N REAL executor JVMs, so
# exchanges serialize, broadcasts cross process boundaries, and each
# executor has its own memory. The packaged app jar (sbt package) ships
# the graft classes to the executors.
#
# Usage:
#   sbt package
#   SPARK_GRAFT_SCALE_DIRS="/tmp/graft_scale/x1;/tmp/graft_scale/x10" \
#     scripts/local_cluster_bench.sh [master] [mainClass]
# Default master: local-cluster[4,8,8192] (4 workers x 8 cores x 8 GiB).
# Default mainClass: graft.Bench; any main that builds its session with
# graft.Sessions.build (Bench, Verify, PlanDump, ScaleFixture) honors the
# master and executor memory set here.
# All SPARK_GRAFT_* envs pass through to the main unchanged.
set -euo pipefail
MASTER="${1:-local-cluster[4,8,8192]}"
CLASS="${2:-graft.Bench}"
# bash glob array, not ls|head: pipefail can kill ls via SIGPIPE, and a
# silent first-sorted pick would bench a stale versioned jar unnoticed
jars=("$(dirname "$0")"/../target/scala-2.13/sp500stocketlspark_2.13-*.jar)
if [[ ${#jars[@]} -ne 1 || ! -f ${jars[0]} ]]; then
  echo "expected exactly one packaged jar, found: ${jars[*]}" >&2
  echo "run 'sbt package' (and clean stale versions) first" >&2
  exit 1
fi
JAR=${jars[0]}
export SPARK_GRAFT_MASTER="$MASTER"
export SPARK_GRAFT_EXECUTOR_MEM="${SPARK_GRAFT_EXECUTOR_MEM:-7g}"
exec /opt/spark/bin/spark-submit \
  --master "$MASTER" \
  --driver-memory 8g \
  --class "$CLASS" \
  "$JAR"
