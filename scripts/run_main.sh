#!/bin/bash
# Run a graft main class directly with java (fast path after `sbt compile`).
# Usage: scripts/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_JAVA_OPTS: extra -D flags, e.g. -Dspark.memory.fraction=0.15
# for a spill rehearsal with graft.Probe — SparkSession picks up spark.*
# system properties the graft.Session factory does not set itself.
# ReservedCodeCacheSize: the default 240 MB JIT code cache FILLS after
# ~200 bench keys of whole-stage codegen; UseCodeCacheFlushing then
# evicts hot methods and late-alphabet keys run ~2-3x slow from
# recompilation thrash (census-257 full bench A/B: 162.6 s at the
# default vs 138.2 s at 1g — text_fingerprint 3.26 -> 1.09 s).
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize="${SPARK_CODE_CACHE:-1g}" \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$@"
