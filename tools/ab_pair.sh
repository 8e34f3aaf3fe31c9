#!/bin/bash
# Paired A/B bench protocol: numbers from different days carry 1.2-8x
# host drift, so judge optimizations ONLY on same-day paired runs.
# Interleaves old/new fresh-JVM reps and alternates which side runs first
# (rep 1: old, new; rep 2: new, old; ...), so neither side always inherits
# the other's page-cache and thermal state. Each rep is ONE JVM
# (SPARK_GRAFT_BENCH_REPS=1, the isolated protocol) at the committed-artifact
# flags. Both sides get the same heap: half of this host's MemTotal, at
# least 2g. Output: per-rep JSONs under $OUTDIR plus a per-query table on
# stdout: each side's median with its quartiles (q1-q3), the ratio of
# medians, and "noise" where the two sides' quartile ranges overlap — a
# ratio there is not resolved by this many reps.
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
  if [ $((rep % 2)) -eq 1 ]; then ORDER="old new"; else ORDER="new old"; fi
  for side in $ORDER; do
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
def quartiles(v):
    v = sorted(v)
    def q(p):
        i = p * (len(v) - 1)
        lo = int(i)
        return v[lo] + (v[min(lo + 1, len(v) - 1)] - v[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)
def runs(side):
    qs = {}
    for r in range(1, reps+1):
        try: d = json.load(open(f"{outdir}/{side}_{r}.json"))
        except Exception: continue
        for q, v in d["queries"].items(): qs.setdefault(q, []).append(v)
    return {q: quartiles(v) for q, v in qs.items()}
old, new = runs("old"), runs("new")
def cell(t):
    return f"{t[1]:8.2f} {t[0]:6.2f}-{t[2]:<6.2f}" if t else f"{0:8.2f} {'-':>13s}"
print(f"{'query':42s} {'old med':>8s} {'q1-q3':>13s} {'new med':>8s} {'q1-q3':>13s} {'ratio':>7s}")
for q in sorted(set(old) | set(new)):
    o, n = old.get(q), new.get(q)
    if o and n and o[1] > 0:
        noise = "noise" if o[0] <= n[2] and n[0] <= o[2] else ""
        r = f"{n[1]/o[1]:7.3f} {noise}"
    else:
        r = "      -"
    print(f"{q:42s} {cell(o)} {cell(n)} {r}")
EOF
