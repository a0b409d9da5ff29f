#!/usr/bin/env bash
# Run any graft main on a plain JVM (same classpath/opens recipe as
# bench.sh): tools/run.sh <MainClass> [args...]. Avoids sbt's stdout
# wrapping and its project lock, so tool mains (TimeQuery, ExplainDump,
# ScaleBench, CandVol, StreamBench, GenScale) can run while another sbt
# task is active.
#
# Usage: SPARK_DRIVER_MEM=24g tools/run.sh graft.tools.TimeQuery <dir> <q>
set -euo pipefail
cd "$(dirname "$0")/.."

CLASSES=target/scala-2.13/classes
# Staleness sentinel (ADVICE r6): the classes DIRECTORY mtime only moves
# when a direct child is added/removed, not when nested .class files are
# recompiled — compare sources against the newest .class file instead.
NEWEST_CLASS="$(find "$CLASSES" -name '*.class' -printf '%T@ %p\n' 2>/dev/null | sort -rn | head -1 | cut -d' ' -f2-)"
if [ -z "$NEWEST_CLASS" ] || [ -n "$(find src/main -name '*.scala' -newer "$NEWEST_CLASS" -print -quit 2>/dev/null)" ]; then
  sbt -error compile 1>&2
fi

ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS_ARGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_ARGS+=(--add-opens "$p=ALL-UNNAMED"); done

MAIN="$1"; shift
# SPARK_EXTRA_JAVA_OPTS: optional extra -D flags for codec/config eras
# (e.g. -Dspark.io.compression.codec=zstd for deep-decade legs whose lz4
# shuffle spill exceeds the box's free disk — BENCH_SCALE_r09_q34zstd).
# Intentionally unquoted: word-split on spaces.
exec java \
  "${OPENS_ARGS[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  ${SPARK_EXTRA_JAVA_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
