#!/bin/bash
# MV crash-safety soak: SIGKILL the incremental materialized-view
# maintainer JVM at a random moment mid-drain, restart it, and require
# the recovered view to be bit-identical to (a) a clean uninterrupted
# maintenance run and (b) a full SQL recompute over the primary's live
# state. Exercises: graft-cdf checkpoint resume with updatePreimages,
# the view's versioned-by-batch pointer fence, the consumer tag, and
# partial v<b> write invisibility (pointer advances only after the
# parquet write completes).
# Usage: crashsoak_mv.sh [nEvents] [iterations]
set -e
N=${1:-2000000}
ITERS=${2:-3}
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
S=/tmp/crashsoak_mv
rm -rf $S && mkdir -p $S
# canonical view state: sorted rows, one line per group
RECOMPUTE='SELECT language, count(*) AS cnt, sum(coalesce(size_bytes, 0)) AS bytes FROM $TABLE GROUP BY 1 ORDER BY 1'
viewOf() { # print the maintained view (sorted) from a view dir
  local latest
  latest=$(cat "$1/view/_latest")
  java $JAVA_OPTS -Xmx8g -cp "$CP" graft.tools.ReplayCli sql "$2" \
    "SELECT * FROM parquet.\`$1/view/v$latest\` ORDER BY 1" 2>/dev/null | grep -a "^|"
}

echo "=== gen ${N} events, 16 files; replay as 8 versions (primary) ==="
GRAFT_CORES=32 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli gen $S/log $N 42 16 2>&1 | grep -a "\[gen\]"
GRAFT_MAX_FILES_PER_TRIGGER=2 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli replay $S/log $S/primary 16 32 cow 2>&1 | grep -a "\[replay\]"
SQLV=$(java $JAVA_OPTS -Xmx8g -cp "$CP" graft.tools.ReplayCli sql $S/primary "$RECOMPUTE" 2>/dev/null | grep -a "^|")

echo "=== reference: clean uninterrupted maintenance (1 version/batch) ==="
java $JAVA_OPTS -Xmx8g -cp "$CP" graft.tools.ReplayCli mv $S/primary $S/ref language 1 2>&1 | grep -a "\[mv\]"
REF=$(viewOf $S/ref $S/primary)
echo "ref view groups: $(echo "$REF" | wc -l)  (vs SQL recompute: $([ "$REF" == "$SQLV" ] && echo MATCH || echo MISMATCH))"

# kill window starts past JVM/session startup (~10s on this host) so the
# SIGKILL lands mid-DRAIN; the mid-kill pointer printed per iteration is
# the proof (v0..v6 = interrupted between batches, none = pre-first-batch)
for i in $(seq 1 $ITERS); do
  W=$S/kill$i
  DELAY=$((RANDOM % 10 + 12))
  java $JAVA_OPTS -Xmx8g -cp "$CP" graft.tools.ReplayCli mv $S/primary $W language 1 > $W.log1 2>&1 &
  PID=$!
  sleep $DELAY
  if kill -9 $PID 2>/dev/null; then KILLED="killed at ${DELAY}s"; else KILLED="finished before ${DELAY}s"; fi
  wait $PID 2>/dev/null || true
  MID=$(cat $W/view/_latest 2>/dev/null || echo none)
  # restart: must resume from the checkpoint; the pointer fence +
  # consumer tag make the re-delivered batch exact, never double-applied
  java $JAVA_OPTS -Xmx8g -cp "$CP" graft.tools.ReplayCli mv $S/primary $W language 1 > $W.log2 2>&1
  GOT=$(viewOf $W $S/primary)
  if [ "$GOT" == "$REF" ]; then VERDICT="PARITY"; else VERDICT="MISMATCH"; fi
  echo "iter $i: $KILLED (pointer at kill: $MID) -> recovered: $VERDICT (view batches applied: v$(cat $W/view/_latest))"
done
echo "=== DONE ==="
