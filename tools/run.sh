#!/usr/bin/env bash
# Plain-java launcher for graft mains (Bench/Verify/Tool): the same JVM
# flags as build.sbt's forked run (both read tools/jvm.flags), no sbt
# startup/lock — lets measurement runs proceed while sbt test is busy and
# removes ~20 s of sbt overhead from every timed invocation. Usage:
#   tools/run.sh graft.Bench
#   SPARK_GRAFT_CPUS=32 tools/run.sh graft.Tool genscale /root/testdata/sf0.1 /tmp/graft_scale100 100
set -euo pipefail
cd "$(dirname "$0")/.."
# one flag per line, #-comments and blank lines skipped; left unquoted
# below so each line splits into its whitespace-separated words
FLAGS=$(grep -v -e '^[[:space:]]*#' -e '^[[:space:]]*$' tools/jvm.flags)
exec java $FLAGS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
