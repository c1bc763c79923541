#!/bin/bash
# Run a graft main class directly from compiled classes (no sbt):
#   tools/run_main.sh graft.Probe time <sfDir> q157_similarity_join
# Mirrors build.sbt's forked-run JVM flags (JDK17 add-opens, heap); the
# session settings come from graft.core.Sessions.common.
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-16g}" -cp "$CP" "$@"
