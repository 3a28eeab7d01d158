#!/bin/bash
# Fast runner for graft mains without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
cd "$(dirname "$0")/.."
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
