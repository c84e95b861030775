#!/bin/bash
# Run a graft main class directly against the Spark jars (faster than sbt),
# using the compiled classes of the checkout this script sits in.
# Usage: tools/run_class.sh graft.Verify <sfDir> <outDir>
set -e
CLS="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# Spark jars: $SPARK_HOME, else the distribution spark-submit runs from
# (the same rule as perfbench/run.py).
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  "$CLS" "$@"
