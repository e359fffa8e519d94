#!/usr/bin/env bash
# Run a graft main class directly with java (no sbt), so long bench /
# verify / datagen jobs don't hold the single sbt lock. Mirrors
# build.sbt's JDK17 add-opens and driver heap; the session settings
# (UI off, UTC time zone) come from graft.io.Scratch.session.
# src/main/resources is on the classpath directly: `sbt compile` does
# NOT run copyResources, so on a fresh workspace target/classes lacks
# the META-INF/services DataSourceRegister entry and every DSv2 query
# (qC9/qD5/qD7) dies with SparkClassNotFoundException — sourcing the
# resources dir itself makes run_main immune to that build-state gap.
# Usage: tools/run_main.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GCLocker starvation workaround (mirrors build.sbt javaOptions): JDK
# ≤21 G1 throws a spurious heap-space OOM when JNI codec critical
# sections starve an allocating task thread past 2 retries — seen at
# sf10 on qA3's 32-way localCheckpoint unroll.
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100 \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
