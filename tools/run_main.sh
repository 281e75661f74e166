#!/bin/bash
# Run a graft main class against the packaged jar without sbt (so code
# edits + sbt compiles can proceed while a long bench runs).
#   usage: tools/run_main.sh <mainClass> [args...]
# env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM honored
# like build.sbt. cwd matters: Bench writes bench_full*.json to cwd.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JAR="${GRAFT_JAR:-$REPO/target/scala-2.13/kinesisvcrspark_2.13-0.1.0.jar}"
MAIN="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:ReservedCodeCacheSize=1g \
  -cp "$JAR:/opt/spark/jars/*" "$MAIN" "$@"
