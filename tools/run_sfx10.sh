#!/bin/bash
# sfx10 (100x sf0.1) spot-bench driver (VERDICT r9 ask #4): the SECOND
# scale decade. Generates the 100-copy replica via graft.ScaleUp (affine
# per-copy letter bijections — the Caesar i%26 recycle is fixed, so no
# verbatim cross-copy text at 100 copies), then runs the ~12
# scale-critical kernels at local[32], 1 rep, no manual tuning env vars.
# Raw output lands in bench_sf10_raw.json; bench_sf10.json is assembled
# from it with config notes + findings (tools/finalize_sf1.py pattern).
#
# Runs from a SNAPSHOTTED classpath (java -cp, not sbt) so the build stays
# free while the long run executes. JVM flags mirror build.sbt's
# javaOptions (Spark 4.x on JDK 17 module opens + the code-cache bump).
set -euo pipefail
cd /root/repo

SFX10_DIR=${SFX10_DIR:-/root/repo/target/sfx10}
CLASSES=${CLASSES:-/tmp/graft_classes_r10}

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JFLAGS="$OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -XX:ReservedCodeCacheSize=2g"
# Heap: half of this host's MemTotal (at least 2g), the tools/ab_pair.sh
# rule, for the ScaleUp and the Bench JVM alike (they run one at a time).
HEAP_GB=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g)}' /proc/meminfo)

if [ ! -d "$SFX10_DIR/lineitem.parquet" ]; then
  echo "[run_sfx10] generating 100x replica at $SFX10_DIR"
  # shellcheck disable=SC2086
  java $JFLAGS -Xmx${HEAP_GB}g -cp "$CLASSES:/opt/spark/jars/*" \
    graft.ScaleUp /root/testdata/sf0.1 "$SFX10_DIR" 100
fi

QUERIES=$(tr '\n' ',' < tools/sfx10_queries.txt | sed 's/,$//')
echo "[run_sfx10] $(echo "$QUERIES" | tr ',' '\n' | wc -l) queries"

# shellcheck disable=SC2086
SPARK_GRAFT_SF_DIR="$SFX10_DIR" \
SPARK_GRAFT_BENCH_REPS=1 \
SPARK_GRAFT_QUERY_TIMEOUT=3600 \
SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
SPARK_GRAFT_BENCH_OUT=/root/repo/bench_sf10_raw.json \
java $JFLAGS -Xmx${HEAP_GB}g -cp "$CLASSES:/opt/spark/jars/*" graft.Bench
