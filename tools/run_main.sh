#!/bin/bash
# Launch a graft main class against the compiled classes WITHOUT sbt —
# avoids the two-sbt-processes-race-on-target/ trap when a long
# `sbt test` is running (round-14 gotcha). Usage:
#   tools/run_main.sh graft.Bench [args...]
# Env: SPARK_GRAFT_* passes through; SPARK_DRIVER_MEM sizes the heap.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=${SPARK_UI_ENABLED:-false} \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CP" "$@"
