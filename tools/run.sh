#!/bin/bash
# Fast dev runner: java -cp directly against the compiled classes of THIS
# checkout (skips sbt JVM startup). Usage: tools/run.sh <mainClass> [args...]
#   e.g. tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
MAIN="$1"; shift
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
