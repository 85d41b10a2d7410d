#!/bin/bash
# Run a graft main class directly (after `sbt compile`), bypassing sbt.
# Usage: tools/run.sh graft.Bench [args...]   (env vars pass through)
cd "$(dirname "$0")/.." || exit 1
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
