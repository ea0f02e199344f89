#!/bin/bash
# Run a graft main straight from compiled classes (no sbt lock):
#   tools/jrun.sh [-Xmx16g] graft.tools.Run recall ann_recall /tmp/scale10j
# Mirrors build.sbt's jdk17AddOpens + UTC defaults. Compile first
# (sbt compile) — this runs whatever is in the checkout's
# target/scala-2.13/classes, found relative to this script.
set -euo pipefail
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
XMX="${SPARK_DRIVER_MEM:-8g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="${1#-Xmx}"; shift; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"$XMX" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
