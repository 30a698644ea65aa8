#!/bin/bash
# Crash-safety soak: SIGKILL the replay JVM at a random moment mid-run,
# restart it, and require the recovered final state to be bit-identical
# (count + full-state hash) to a clean single-run replay of the same log.
# Exercises: snapshot CAS atomicity, checkpoint resume, batchId fence,
# partial-write invisibility. Usage: crashsoak.sh [nEvents] [iterations]
set -e
N=${1:-4000000}
ITERS=${2:-3}
MODE=${3:-cow}
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
S=/tmp/crashsoak
rm -rf $S && mkdir -p $S
HASH_SQL='SELECT count(*) AS n, sum(hash(repo, path, seq, commit, language, content, size_bytes)) AS h FROM $TABLE'

echo "=== gen ${N} events, 16 files (multi-batch via maxFilesPerTrigger=2 -> 8 batches) ==="
GRAFT_CORES=32 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli gen $S/log $N 42 16 2>&1 | grep -a "\[gen\]"

echo "=== reference: clean uninterrupted replay ==="
GRAFT_MAX_FILES_PER_TRIGGER=2 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli replay $S/log $S/ref 16 32 $MODE 2>&1 | grep -a "\[replay\]"
REF=$(java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli sql $S/ref "$HASH_SQL" 2>/dev/null | grep -a "^|" | tail -1)
echo "ref state: $REF"

for i in $(seq 1 $ITERS); do
  W=$S/kill$i
  # kill at a random point inside the replay (3..25s in — mid-batch,
  # mid-commit, mid-compaction; whatever the dice land on)
  DELAY=$((RANDOM % 23 + 3))
  GRAFT_MAX_FILES_PER_TRIGGER=2 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli replay $S/log $W 16 32 $MODE > $W.log1 2>&1 &
  PID=$!
  sleep $DELAY
  if kill -9 $PID 2>/dev/null; then KILLED="killed at ${DELAY}s"; else KILLED="finished before ${DELAY}s"; fi
  wait $PID 2>/dev/null || true
  # restart: must resume from the checkpoint and finish exactly-once
  GRAFT_MAX_FILES_PER_TRIGGER=2 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli replay $S/log $W 16 32 $MODE > $W.log2 2>&1
  GOT=$(java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli sql $W "$HASH_SQL" 2>/dev/null | grep -a "^|" | tail -1)
  if [ "$GOT" == "$REF" ]; then VERDICT="PARITY"; else VERDICT="MISMATCH got=$GOT"; fi
  echo "iter $i: $KILLED -> recovered: $VERDICT $(grep -a '\[replay\]' $W.log2 | tail -c 120)"
done
echo "=== DONE ==="
