#!/bin/bash
# Run a graft main class directly (no sbt overhead): tools/run_main.sh <Class> [args...]
# Runs the classes (and resources) of the checkout this script belongs to.
# Extra JVM flags via JVM_EXTRA. Heap via SPARK_DRIVER_MEM (default 8g).
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLS=$1; shift
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} $JVM_EXTRA \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "graft.$CLS" "$@"
