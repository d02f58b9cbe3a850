#!/usr/bin/env bash
# Direct-JVM runner for graft mains (Bench, Verify, BenchOne, ScaleProbe):
# same classpath and module options sbt uses, without sbt's startup cost.
# Usage: tools/run_main.sh graft.Bench [args...]
set -euo pipefail
MAIN="$1"; shift
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$MAIN" "$@"
