#!/bin/bash
# Run a compiled graft main directly (no sbt — usable while another
# sbt holds the project, e.g. a long bench sweep). Mirrors build.sbt's
# fork JVM options: heap and --add-opens. Spark settings come from the
# main's own session (GraftSession.local: UI off, UTC, cores from
# SPARK_GRAFT_CPUS or the host's processor count).
# Usage: tools/runmain.sh [-mMEM] graft.SomeMain args...
set -e
cd "$(dirname "$0")/.."
MEM="${SPARK_DRIVER_MEM:-8g}"
case "$1" in -m*) MEM="${1#-m}"; shift;; esac
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Local-mode heartbeat tolerance is OPT-IN per JVM
# (SPARK_GRAFT_LONG_SWEEP=1): a missed heartbeat in one shared
# driver/executor JVM only ever means a starved RPC thread — on a
# host with hypervisor steal the default 60x10s kill-switch
# System.exit'd a sweep 2h in — but a 3600s network timeout also
# delays detection of a GENUINE hang, which short-lived tool JVMs
# (Verify, probes) want fast. So: long sweeps set the flag; everything
# else keeps Spark's defaults. Both sides of the handshake are
# widened together (executor exit budget AND driver-side
# HeartbeatReceiver expiry via spark.network.timeout — at 600s the
# driver expired after only 10 misses, below the ~10-min stall that
# motivated this). A session builder that sets these itself (Bench)
# wins either way: SparkConf reads system properties first, then
# .config() overrides.
HB=""
if [ "${SPARK_GRAFT_LONG_SWEEP:-0}" = "1" ]; then
  HB="-Dspark.executor.heartbeatInterval=60s \
      -Dspark.executor.heartbeat.maxFailures=240 \
      -Dspark.network.timeout=3600s"
fi
exec java -Xmx"$MEM" $OPENS \
  $HB \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
