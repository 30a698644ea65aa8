#!/bin/bash
# Follower crash-safety soak: SIGKILL the DSv2 CDF follower JVM at a
# random moment mid-drain, restart it, and require the recovered derived
# table to be bit-identical (count + full-state hash) to a clean
# uninterrupted follow AND to the primary's live state.
# Exercises: graft-cdf checkpoint resume, derived-table batchId fence,
# partial-write invisibility on the replica path.
# Usage: crashsoak_follow.sh [nEvents] [iterations]
set -e
N=${1:-4000000}
ITERS=${2:-3}
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
S=/tmp/crashsoak_follow
rm -rf $S && mkdir -p $S
HASH_SQL='SELECT count(*) AS n, sum(hash(repo, path, seq, commit, language, content, size_bytes)) AS h FROM $TABLE'
hashOf() { java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli sql "$1" "$HASH_SQL" 2>/dev/null | grep -a "^|" | tail -1; }

echo "=== gen ${N} events, 16 files; replay as 8 versions (primary) ==="
GRAFT_CORES=32 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli gen $S/log $N 42 16 2>&1 | grep -a "\[gen\]"
GRAFT_MAX_FILES_PER_TRIGGER=2 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli replay $S/log $S/primary 16 32 cow 2>&1 | grep -a "\[replay\]"
PRI=$(hashOf $S/primary)
echo "primary state: $PRI"

echo "=== reference: clean uninterrupted follow (1 version/batch) ==="
java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli follow $S/primary $S/ref 1 2>&1 | grep -a "\[follow\]"
REF=$(hashOf $S/ref)
echo "ref derived state: $REF  (vs primary: $([ "$REF" == "$PRI" ] && echo MATCH || echo MISMATCH))"

for i in $(seq 1 $ITERS); do
  W=$S/kill$i
  DELAY=$((RANDOM % 20 + 3))
  java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli follow $S/primary $W 1 > $W.log1 2>&1 &
  PID=$!
  sleep $DELAY
  if kill -9 $PID 2>/dev/null; then KILLED="killed at ${DELAY}s"; else KILLED="finished before ${DELAY}s"; fi
  wait $PID 2>/dev/null || true
  # restart: must resume the CDF stream from its checkpoint, exactly-once
  java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli follow $S/primary $W 1 > $W.log2 2>&1
  GOT=$(hashOf $W)
  if [ "$GOT" == "$REF" ]; then VERDICT="PARITY"; else VERDICT="MISMATCH got=$GOT"; fi
  echo "iter $i: $KILLED -> recovered: $VERDICT $(grep -a '\[follow\]' $W.log2 | tail -c 110)"
done
echo "=== DONE ==="
