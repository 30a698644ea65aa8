#!/bin/bash
# Ask #8 (round 5): scale-up soak beyond 128M — 256M events, MOR cadence
# compaction, point-lookup candidate count, full-state hash parity across
# core counts. Same protocol as bench/results_r3.jsonl soak_128M_* with
# everything doubled: 1024 log files, maxFilesPerTrigger=128 -> 8 batches.
set -e
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
S=/tmp/soak256
rm -rf $S && mkdir -p $S

echo "=== gen 256M events, 1024 files ==="
GRAFT_CORES=32 java $JAVA_OPTS -Xmx24g -cp "$CP" graft.tools.ReplayCli gen $S/log 256000000 42 1024 2>&1 | grep -v "^2[0-9]" | tail -2

echo "=== replay 32c mor compactEvery=4 targetFileRows=500000 (8 batches) ==="
GRAFT_MAX_FILES_PER_TRIGGER=128 java $JAVA_OPTS -Xmx24g -cp "$CP" graft.tools.ReplayCli replay $S/log $S/work 32 64 mor 4 500000 2>&1 | grep -v "^2[0-9]" | tail -3

echo "=== standalone sorted compaction (inline cadence compaction is threshold-based: maxFilesPerBucket=4) ==="
java $JAVA_OPTS -Xmx24g -cp "$CP" graft.tools.ReplayCli compact $S/work 500000 2>&1 | grep -v "^2[0-9]" | tail -2

echo "=== stats (layout after compaction) ==="
java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.ReplayCli stats $S/work 2>&1 | grep -v "^2[0-9]" | head -4

echo "=== point lookups n=50 ==="
java $JAVA_OPTS -Xmx16g -cp "$CP" graft.tools.LookupBench $S/work 50 2>&1 | grep -v "^2[0-9]" | tail -4

echo "=== full-state hash (32c table) ==="
java $JAVA_OPTS -Xmx24g -cp "$CP" graft.tools.ReplayCli sql $S/work "SELECT count(*) AS n, sum(hash(repo, path, seq, commit, language, content, size_bytes)) AS state_hash FROM \$TABLE" 2>&1 | grep -v "^2[0-9]" | tail -5

echo "=== invariance replay 8c compactEvery=2 (same log) ==="
GRAFT_MAX_FILES_PER_TRIGGER=128 java $JAVA_OPTS -Xmx24g -cp "$CP" graft.tools.ReplayCli replay $S/log $S/work8 8 64 mor 2 500000 2>&1 | grep -v "^2[0-9]" | tail -3

echo "=== full-state hash (8c table) ==="
java $JAVA_OPTS -Xmx24g -cp "$CP" graft.tools.ReplayCli sql $S/work8 "SELECT count(*) AS n, sum(hash(repo, path, seq, commit, language, content, size_bytes)) AS state_hash FROM \$TABLE" 2>&1 | grep -v "^2[0-9]" | tail -5

echo "=== DONE ==="
