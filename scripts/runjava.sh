#!/bin/bash
# Run a graft main class directly on the compiled classes (fast iteration,
# no sbt lock). Usage: SPARK_GRAFT_BENCH_ONLY=q46_column_profile scripts/runjava.sh graft.Bench
# The classes are the ones compiled in this script's own checkout.
MAIN=$1; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
