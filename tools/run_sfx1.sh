#!/bin/bash
# sfx1 spot-bench driver (VERDICT r8 ask #6; r11: snapshotted-classpath
# java invocation, the run_sfx10.sh pattern, so the sbt build stays free
# while the long run executes): regenerates the 10x replica of sf0.1 via
# graft.ScaleUp if absent, then runs the full tools/sfx1_queries.txt
# list at local[32], 1 rep, NO manual tuning env vars (the self-sized
# plane/list derivations must carry the run). Raw output lands in
# bench_sf1_raw.json; bench_sf1.json is assembled from it with config
# notes + findings (tools/finalize_sf1.py).
set -euo pipefail
cd /root/repo

SFX1_DIR=${SFX1_DIR:-/root/repo/target/sfx1}
CLASSES=${CLASSES:-/root/repo/target/scala-2.13/classes}

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

if [ ! -d "$SFX1_DIR/lineitem.parquet" ]; then
  echo "[run_sfx1] generating 10x replica at $SFX1_DIR"
  # shellcheck disable=SC2086
  java $JFLAGS -Xmx${HEAP_GB}g -cp "$CLASSES:/opt/spark/jars/*" \
    graft.ScaleUp /root/testdata/sf0.1 "$SFX1_DIR" 10
fi

QUERIES=$(tr '\n' ',' < tools/sfx1_queries.txt | sed 's/,$//')
echo "[run_sfx1] $(echo "$QUERIES" | tr ',' '\n' | wc -l) queries"

# shellcheck disable=SC2086
SPARK_GRAFT_SF_DIR="$SFX1_DIR" \
SPARK_GRAFT_BENCH_REPS=1 \
SPARK_GRAFT_QUERY_TIMEOUT=1800 \
SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
SPARK_GRAFT_BENCH_OUT=/root/repo/bench_sf1_raw.json \
java $JFLAGS -Xmx${HEAP_GB}g -cp "$CLASSES:/opt/spark/jars/*" graft.Bench
