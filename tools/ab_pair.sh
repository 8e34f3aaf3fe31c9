#!/bin/bash
# Paired A/B bench protocol: numbers from different days carry 1.2-8x
# host drift, so judge optimizations ONLY on same-day paired runs.
# Interleaves old/new fresh-JVM reps: old rep1, new rep1, old rep2, ...
# Each rep is ONE JVM (SPARK_GRAFT_BENCH_REPS=1, the isolated protocol)
# at the committed-artifact flags. Both sides get the same heap: half of
# this host's MemTotal, at least 2g. Output: per-rep JSONs under $OUTDIR
# plus a min-of-N per-query table on stdout.
#
# Usage: OLD_CLASSES=/path/to/old/classes [NEW_CLASSES=target/scala-2.13/classes] \
#        tools/ab_pair.sh OUTDIR REPS q1,q2,...
# Pass ALL as the query list to bench every declared query (the
# full-suite paired baseline).
set -euo pipefail
cd "$(dirname "$0")/.."
OUTDIR=$1; REPS=$2; QUERIES=$3
if [ -z "${OLD_CLASSES:-}" ]; then
  echo "ab_pair.sh: set OLD_CLASSES to the compiled classes of the baseline" \
    "(e.g. a git archive of the parent commit, built with sbt compile)" >&2
  exit 2
fi
NEW_CLASSES=${NEW_CLASSES:-$PWD/target/scala-2.13/classes}
SF_DIR=${SF_DIR:-/root/testdata/sf0.1}
HEAP_GB=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g)}' /proc/meminfo)
mkdir -p "$OUTDIR"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JFLAGS="$OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -XX:ReservedCodeCacheSize=2g -Xmx${HEAP_GB}g"
for rep in $(seq 1 "$REPS"); do
  for side in old new; do
    [ "$side" = old ] && CLASSES=$OLD_CLASSES || CLASSES=$NEW_CLASSES
    echo "[ab] rep $rep side $side" >&2
    ONLY_ENV=()
    [ "$QUERIES" != ALL ] && ONLY_ENV=(SPARK_GRAFT_BENCH_ONLY="$QUERIES")
    # shellcheck disable=SC2086
    env SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_REPS=1 \
    ${ONLY_ENV[@]+"${ONLY_ENV[@]}"} \
    SPARK_GRAFT_BENCH_OUT="$OUTDIR/${side}_$rep.json" \
    java $JFLAGS -cp "$CLASSES:/opt/spark/jars/*" graft.Bench \
      > "$OUTDIR/${side}_$rep.log" 2>&1 || echo "[ab] $side rep $rep FAILED" >&2
  done
done
python3 - "$OUTDIR" "$REPS" <<'EOF'
import json, sys
outdir, reps = sys.argv[1], int(sys.argv[2])
def mins(side):
    qs = {}
    for r in range(1, reps+1):
        try: d = json.load(open(f"{outdir}/{side}_{r}.json"))
        except Exception: continue
        for q, v in d["queries"].items(): qs.setdefault(q, []).append(v)
    return {q: min(v) for q, v in qs.items()}
old, new = mins("old"), mins("new")
print(f"{'query':42s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
for q in sorted(set(old) | set(new)):
    o, n = old.get(q), new.get(q)
    r = f"{n/o:7.3f}" if o and n else "      -"
    print(f"{q:42s} {o if o else 0:8.2f} {n if n else 0:8.2f} {r}")
EOF
