#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (skips sbt startup; same JVM flags as build.sbt). Usage:
#   tools/run.sh graft.Verify <sfDir> <outDir> [onlyCsv]
# The classes are this checkout's own (resolved from the script's path), so
# a second copy of the repository runs its own build.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
