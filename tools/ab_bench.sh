#!/bin/bash
# Paired A/B of two built class trees under the driver's bench protocol.
# Usage: tools/ab_bench.sh <classesA> <classesB> <rounds> [sfdir] [cpus]
# Runs A and B alternately (fresh JVM each) so sandbox drift hits both
# sides equally; prints one JSON line per run tagged with the side.
set -euo pipefail
A="$1"; B="$2"; N="$3"
SF="${4:-/root/testdata/sf0.1}"; CPUS="${5:-$(nproc)}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() {
  local side="$1" cls="$2"
  local line
  line=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
    java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$cls" graft.Bench 2>/dev/null | grep '"metric"')
  echo "{\"side\":\"$side\",$(echo "$line" | cut -c2-)"
}
for i in $(seq 1 "$N"); do
  run A "$A"
  run B "$B"
done
