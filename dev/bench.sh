#!/bin/bash
# Quiet-box bench launcher: runs graft.Bench via bare `java -cp` so the
# LAST stdout line is the unframed JSON summary (no sbt [info] wrapper —
# the driver's tail-capture parses it directly).
#
# Contention guard (two rounds of perf signal were lost to loaded-box
# numbers): refuses to run if the 1-min load average exceeds
# SPARK_GRAFT_MAX_LOAD (default 4) or sibling JVMs are burning CPU.
# Override with SPARK_GRAFT_BENCH_FORCE=1.
set -euo pipefail
cd "$(dirname "$0")/.."

LOAD=$(cut -d' ' -f1 /proc/loadavg)
MAX=${SPARK_GRAFT_MAX_LOAD:-4}
# This script is bash, not java, so no self-exclusion is needed; the
# benched JVM only starts at the exec below. Count only java processes
# actually burning CPU (>5% of a core since start): a parked sbt server
# or IDE daemon is not contention and must not permanently block benches.
# `ps -C java` exits 1 when no java process exists; under pipefail that
# would abort the whole script on exactly the quiet box the gate must
# allow — swallow the status and let awk count zero lines as zero.
SIBLINGS=$({ ps -o %cpu= -C java 2>/dev/null || true; } | awk '$1>5{n++} END{print n+0}')
if [ "${SPARK_GRAFT_BENCH_FORCE:-0}" != "1" ]; then
  if awk "BEGIN{exit !($LOAD > $MAX)}"; then
    echo "REFUSING: load $LOAD > $MAX (siblings: $( (pgrep -fl java || true) | tr '\n' ';'))" >&2
    exit 3
  fi
  if [ "${SIBLINGS:-0}" -gt 0 ]; then
    echo "REFUSING: $SIBLINGS sibling JVM(s) running: $( (pgrep -fl java || true) | tr '\n' ';')" >&2
    exit 3
  fi
fi
# HOST-steal gate: intermittent hypervisor steal is invisible to
# loadavg and ps but inflates per-key walls 5-10x (two rounds of
# committed numbers carried steal stamps). Measure the steal delta
# (col 8 of /proc/stat's cpu line) over a 20 s idle window and refuse
# to record when it exceeds SPARK_GRAFT_MAX_STEAL jiffies (default 20
# = 1 jiffy/s). Override window wait with FORCE like the other gates.
MAXSTEAL=${SPARK_GRAFT_MAX_STEAL:-20}
if [ "${SPARK_GRAFT_BENCH_FORCE:-0}" != "1" ]; then
  S1=$(awk '/^cpu /{print $9}' /proc/stat)
  sleep 20
  S2=$(awk '/^cpu /{print $9}' /proc/stat)
  STEAL=$((S2 - S1))
  if [ "$STEAL" -gt "$MAXSTEAL" ]; then
    echo "REFUSING: host steal $STEAL jiffies/20s > $MAXSTEAL (rerun when quiet or SPARK_GRAFT_BENCH_FORCE=1)" >&2
    exit 3
  fi
else
  STEAL="skipped(force)"
fi
echo "bench starting: load=$LOAD sibling_jvms=$SIBLINGS steal20s=${STEAL:-n/a}" >&2

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_BENCH_JAVA_OPTS: extra -D flags (e.g. one of the
# spark.graft.* keys listed in engine/GraftConf.scala) — SparkConf absorbs
# system properties named spark.*; bench_details.json's graft_conf map
# records the value each key resolved to
exec java $ADD_OPENS ${SPARK_GRAFT_BENCH_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-48g} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench
