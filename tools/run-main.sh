#!/usr/bin/env bash
# Run a graft main class directly (no sbt lock): tools/run-main.sh graft.Verify args...
# Mirrors build.sbt's forked-JVM options (add-opens, UTC, UI off, heap).
set -euo pipefail
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# the Spark jars directory is the one build.sbt names as unmanagedBase
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$REPO/build.sbt")"
CP="$REPO/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" -cp "$CP" "$@"
