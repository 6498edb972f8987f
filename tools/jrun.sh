#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes, bypassing
# sbt (the JVM flags of build.sbt's forked runs; graft.LocalSession sets
# the session confs). Lets a long scaled-tier Verify run in the
# background while sbt stays free for other gates.
# Usage: SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=24 tools/jrun.sh graft.Verify <args...>
# Requires a prior `sbt compile` (classes under target/); resources are
# read from src/main/resources.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="${GRAFT_CLASSES:-target/scala-2.13/classes}"
[ -d "$CLASSES" ] || { echo "run sbt compile first" >&2; exit 1; }
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
GC=""
[ -n "${GRAFT_GC_LOG:-}" ] && GC="-Xlog:gc:${GRAFT_GC_LOG}"
exec java $ADD_OPENS $GC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:src/main/resources:/opt/spark/jars/*" "$@"
