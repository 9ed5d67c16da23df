#!/bin/bash
# Plain-java probe runner (never sbt runMain mid-edit: a broken
# working-tree compile silently kills the probe JVM). Usage:
#   scripts/proberun.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 24g), SPARK_GRAFT_CPUS (default 32),
# BENCH_CLASSES overrides the classes dir (for git-archive A/Bs).
#
# A/B a conf switch without a new option: the JDK 17 launcher reads
# JDK_JAVA_OPTIONS and SparkConf loads every spark.* system property,
# so one switch applies to the whole JVM, e.g.
#   JDK_JAVA_OPTIONS=-Dspark.graft.driverResolve=false \
#     scripts/benchone.sh <sfDir> q_fk_orphans q_stream_curate
#   JDK_JAVA_OPTIONS=-Dspark.graft.streaming.partialsCompactEvery=0 ...
# Scale points: point <sfDir> at a graft.ScaleGen output directory.
set -euo pipefail
MAIN=$1; shift
CLASSES=${BENCH_CLASSES:-/root/repo/target/scala-2.13/classes}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-24g} \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
