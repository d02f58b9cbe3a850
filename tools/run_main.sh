#!/usr/bin/env bash
# Direct-JVM runner for the two graft mains, graft.Bench and graft.Verify:
# same classpath and module options sbt uses, without sbt's startup cost.
# Usage: tools/run_main.sh graft.Bench [args...]
#        tools/run_main.sh graft.Verify <sfDir> <outDir> [face...]
set -euo pipefail
MAIN="$1"; shift
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
# `sbt compile` does not copy src/main/resources, whose META-INF/services
# registers the graft-avro source
CP="$CP:$REPO/src/main/resources"
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
