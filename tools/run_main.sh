#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# mirroring the JVM flags in build.sbt. Usage: run_main.sh <class> [args...]
# The test classes are on the path too: the scale harnesses
# (graft.tools.ScaleSmoke and friends) live in src/test; build them
# with `sbt Test/compile`.
# The classes come from the checkout this script sits in, so a second
# checkout (say, a parent commit for a plan diff) runs its own build.
set -e
repo="$(cd "$(dirname "$0")/.." && pwd)"
cls="$1"; shift
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# 1g code cache: the JDK default 240MB fills after ~50 codegen'd Spark
# queries in one JVM; the JIT then runs hot loops interpreted (30-100x).
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xms${SPARK_DRIVER_MEM:-16g} -Xmx${SPARK_DRIVER_MEM:-16g} \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$repo/target/scala-2.13/classes:$repo/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$cls" "$@"
