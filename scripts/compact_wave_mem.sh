#!/bin/bash
# r6: memory-bound validation for wave compaction (VERDICT r5 "what's wrong" #2).
# Build a multi-version MOR table (8M events, 8 micro-batches => ~8 physical
# versions per hot key), then run the SAME full-table threshold compaction
# single-shot vs in 8-bucket waves under one constrained heap, recording peak
# RSS (/usr/bin/time -v) and final-state hash parity.
set -e
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
S=${1:-/tmp/wavemem}
HEAP=${2:-4g}
rm -rf $S && mkdir -p $S

echo "=== gen 8M events, 128 files ==="
GRAFT_CORES=32 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli gen $S/log 8000000 42 128 2>&1 | grep -v "^2[0-9]" | tail -1

echo "=== replay 32c mor, 8 batches, no inline compaction ==="
GRAFT_MAX_FILES_PER_TRIGGER=16 java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli replay $S/log $S/work 32 64 mor 2>&1 | grep -v "^2[0-9]" | tail -1

cp -r $S/work $S/work_wave

echo "=== single-shot compact, heap=$HEAP ==="
( /usr/bin/time -v java $JAVA_OPTS -Xmx$HEAP -cp "$CP" graft.tools.ReplayCli compact $S/work 500000 > $S/single.out 2> $S/single.time; echo "rc=$?" >> $S/single.time ) || true
grep -E "\[compact\]" $S/single.out || echo "single-shot FAILED"
grep -E "Maximum resident|rc=" $S/single.time

echo "=== wave compact (8 buckets/wave), heap=$HEAP ==="
( GRAFT_COMPACT_WAVE=8 /usr/bin/time -v java $JAVA_OPTS -Xmx$HEAP -cp "$CP" graft.tools.ReplayCli compact $S/work_wave 500000 > $S/wave.out 2> $S/wave.time; echo "rc=$?" >> $S/wave.time ) || true
grep -E "\[compact\]" $S/wave.out || echo "wave FAILED"
grep -E "Maximum resident|rc=" $S/wave.time

echo "=== state hash parity ==="
for W in work work_wave; do
  java $JAVA_OPTS -Xmx8g -cp "$CP" graft.tools.ReplayCli sql $S/$W "SELECT count(*) AS n, sum(hash(repo, path, seq, commit, language, content, size_bytes)) AS state_hash FROM \$TABLE" 2>&1 | grep -v "^2[0-9]" | tail -3
done
echo "=== DONE ==="
