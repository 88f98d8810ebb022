#!/bin/bash
# Run a graft main class via plain java (no sbt lock): compiled classes +
# the image's Spark jars. Usage: run_main.sh graft.Verify <args...>
# Env: SPARK_DRIVER_MEM (default 24g), plus whatever the main reads.
set -e
MAIN=$1; shift
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
