#!/bin/bash
# Run a graft main class with plain java (no sbt lock), from a SNAPSHOT of
# the compiled classes so concurrent sbt recompiles can't swap class files
# under a running JVM. Usage: tools/run.sh graft.tools.Profile <sfDir> <query…>
set -euo pipefail
cd "$(dirname "$0")/.."
SNAP=$(mktemp -d /tmp/graftcp.XXXXXX)
cp -r target/scala-2.13/classes/* "$SNAP/"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -Duser.timezone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
  -cp "$SNAP:/opt/spark/jars/*" "$@"
