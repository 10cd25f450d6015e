#!/bin/bash
# Run a graft main class without sbt (no lock contention, fast startup).
# Usage: tools/run_main.sh <MainClass> [args...]   (env: SPARK_DRIVER_MEM)
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-48g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$MAIN" "$@"
