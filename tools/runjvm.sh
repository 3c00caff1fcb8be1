#!/bin/bash
# Dev-only: run a graft main class in a plain JVM (no sbt fork overhead),
# classpath = compiled classes + scala-library (coursier cache) +
# /opt/spark/jars. Mirrors build.sbt's jdk17AddOpens + javaOptions.
# The compiled classes include the test tree's, which hold the scale
# gate's graft.Gate: build with `sbt Test/compile` first.
# Usage: tools/runjvm.sh <mainClass> [args...]   (env: SPARK_DRIVER_MEM)
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes:target/scala-2.13/test-classes
SCALA_LIB=$(find /root/.cache/coursier -name 'scala-library-2.13.17.jar' | head -1)
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_EXTRA_JAVA_OPTS: optional extra -D flags for gate runs (e.g.
# -Dspark.io.compression.codec=zstd to shrink 128x-replica shuffle spill)
exec java $OPENS ${SPARK_EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$CLASSES:$SCALA_LIB:/opt/spark/jars/*" "$@"
