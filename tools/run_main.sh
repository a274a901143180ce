#!/bin/sh
# Run a graft main class with the same JVM flags build.sbt gives forked
# runs, WITHOUT an sbt instance — so long-running mains (ScaleGen, Bench,
# Verify, FormattedPlanDump) can run in the background while a
# concurrent `sbt test`/`sbt compile` holds the project lock.
# Requires a prior `sbt compile` (reads target/scala-2.13/classes).
#
# Usage: tools/run_main.sh graft.ScaleGen <args...>
# Env: SPARK_DRIVER_MEM (default: half of RAM, clamped to 2g..24g) —
# same knob and rule as build.sbt.
set -e
cd "$(dirname "$0")/.."
MAIN="$1"; shift
: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)}"
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$SPARK_DRIVER_MEM" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
