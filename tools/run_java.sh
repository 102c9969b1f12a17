#!/bin/bash
# Direct-JVM runner for graft entry points (Bench/Verify/PlanDump):
# same classpath recipe as drift_ab.sh, no sbt lock/startup per run.
# Usage: tools/run_java.sh <mainClass> [args...]
set -euo pipefail
ROOT=$(git rev-parse --show-toplevel)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MEM=${SPARK_DRIVER_MEM:-12g}
MAIN=$1; shift
cd "$ROOT"
exec java $ADD_OPENS -Xms"$MEM" -Xmx"$MEM" -XX:ReservedCodeCacheSize=2g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
