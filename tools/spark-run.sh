#!/bin/bash
# Run a main class from the compiled repo against the Spark jars, with the
# JDK17 add-opens Spark needs (mirrors build.sbt's javaOptions). The classes
# are those of the checkout this script belongs to, so a second worktree runs
# its own build; the jars are those of the Spark install spark-submit belongs to.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JARS="$(dirname "$(dirname "$(command -v spark-submit)")")/jars"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$JARS/*" \
  "$@"
