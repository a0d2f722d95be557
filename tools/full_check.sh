#!/usr/bin/env bash
# Full round validation battery: everything the driver gates on, locally.
# Usage: bash tools/full_check.sh
set -e
cd "$(dirname "$0")/.."
# sessions keep their warehouse in a per-JVM temp dir: nothing may write
# managed tables into the working directory
rm -rf spark-warehouse

# specs keep their scratch dirs under java.io.tmpdir as graft-*, removed
# at JVM exit: a test run must not leave any behind
count_tmp() { find "${TMPDIR:-/tmp}" -maxdepth 1 -name 'graft-*' 2>/dev/null | wc -l; }
TMP_BEFORE=$(count_tmp)

echo "=== duplicated lines in src/main (report only, never gates) ==="
python3 tools/dup_lines.py || true

echo "=== compile + tests ==="
sbt -batch test 2>&1 | grep -aE "Tests: succeeded|All tests passed|TESTS FAILED|Failed tests" | head -5
TMP_AFTER=$(count_tmp)

echo "=== t1 smoke (entry) ==="
sbt -batch "runMain graft.Smoke" 2>&1 | grep -aE "ENTRY_ROWS|QUERIES"

for SF in 0.001 0.01 0.1; do
  echo "=== t2 oracle diff @ sf$SF ==="
  rm -rf "/tmp/graft_v$SF"
  sbt -batch "runMain graft.Verify /root/testdata/sf$SF /tmp/graft_v$SF" 2>&1 \
    | grep -a "\[verify\].*failed" || true
  python3 tools/check.py "/root/testdata/sf$SF" "/tmp/graft_v$SF" | tail -1
done

echo "=== determinism probes @ sf0.001 (7 shuffle partitions; AQE off; broadcasts off) ==="
rm -rf /tmp/graft_v7p
SPARK_GRAFT_CPUS=7 sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/graft_v7p" 2>&1 \
  | grep -a "\[verify\].*failed" || true
python3 tools/check.py /root/testdata/sf0.001 /tmp/graft_v7p | tail -1
rm -rf /tmp/graft_vnoaqe
SPARK_GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.adaptive.enabled=false" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/graft_vnoaqe" 2>&1 \
  | grep -a "\[verify\].*failed" || true
python3 tools/check.py /root/testdata/sf0.001 /tmp/graft_vnoaqe | tail -1
# broadcasts off also turns off the dedup closure's driver union-find, so
# every connected-components caller runs its loop
rm -rf /tmp/graft_vnobc
SPARK_GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.autoBroadcastJoinThreshold=-1" \
  sbt -batch "runMain graft.Verify $HOME/testdata/sf0.001 /tmp/graft_vnobc" 2>&1 \
  | grep -a "\[verify\].*failed" || true
python3 tools/check.py $HOME/testdata/sf0.001 /tmp/graft_vnobc | tail -1

echo "=== build-time Spark jobs and codegen compiles, every registry id, builds only (no action) @ sf0.001 (report only, never gates) ==="
sbt -batch "runMain graft.tools.ProfileQueries $HOME/testdata/sf0.001" 2>&1 \
  | grep -a '"total_build_jobs"' || true

echo "=== bench @ sf0.1 ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep -a '"metric"' | head -1

status=0
if [ -e spark-warehouse ]; then
  echo "FAIL: spark-warehouse/ appeared in the working directory" >&2
  status=1
fi
if [ "$TMP_AFTER" -gt "$TMP_BEFORE" ]; then
  echo "FAIL: sbt test left graft-* dirs in ${TMPDIR:-/tmp} ($TMP_BEFORE before, $TMP_AFTER after)" >&2
  status=1
fi
exit $status
