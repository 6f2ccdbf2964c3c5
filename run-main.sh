#!/bin/bash
# Run a graft main class directly (bypasses sbt so tests can run in parallel).
# Usage: ./run-main.sh [-XmxNNg] graft.tools.ScaleUp args...
# Runs the classes compiled next to this script. The default heap is half
# of RAM, clamped to 2-8g. JVM add-opens flags mirror build.sbt (Spark 4.x
# on JDK 17 outside spark-submit).
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
XMX="-Xmx$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  2>/dev/null </proc/meminfo || echo 2g)"
if [[ "${1:-}" == -Xmx* ]]; then XMX="$1"; shift; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $XMX $OPENS -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
