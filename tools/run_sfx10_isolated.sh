#!/bin/bash
# Isolated-by-default measurement for the state-sensitive sfx10 kernels
# (r13, VERDICT r12 ask #7 / What's-missing #3): each kernel in
# tools/sfx10_isolated_kernels.txt runs in its OWN JVM, so the committed
# number no longer inherits whatever heap/page-cache state the
# neighbor kernels left behind — the r12 two-rep columns measured 5-6x
# bands with byte-identical shuffle plans (minhash 114.3 in-run vs 19.6
# isolated; select_shards 144/234 vs 41 alone). The full in-run pass
# (tools/run_sfx10.sh) remains the CONTEXT column; finalize_sf10.py
# commits the isolated number and records both observations.
#
# Output: per-kernel JSONs merged into bench_sf10_iso.json.
set -euo pipefail
cd /root/repo

SFX10_DIR=${SFX10_DIR:-/root/repo/target/sfx10}
CLASSES=${CLASSES:-/tmp/graft_classes_r13}
KERNELS_FILE=${KERNELS_FILE:-tools/sfx10_isolated_kernels.txt}
OUT=${OUT:-/root/repo/bench_sf10_iso.json}

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JFLAGS="$OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -XX:ReservedCodeCacheSize=2g"
# Heap: half of this host's MemTotal (at least 2g), the tools/ab_pair.sh
# rule, for every Bench JVM (they run one at a time).
HEAP_GB=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g)}' /proc/meminfo)

TMP=$(mktemp -d /tmp/sfx10_iso.XXXXXX)
while read -r k; do
  [ -z "$k" ] && continue
  echo "[run_sfx10_isolated] $k"
  # shellcheck disable=SC2086
  SPARK_GRAFT_SF_DIR="$SFX10_DIR" \
  SPARK_GRAFT_BENCH_REPS=1 \
  SPARK_GRAFT_QUERY_TIMEOUT=3600 \
  SPARK_GRAFT_BENCH_ONLY="$k" \
  SPARK_GRAFT_BENCH_OUT="$TMP/$k.json" \
  java $JFLAGS -Xmx${HEAP_GB}g -cp "$CLASSES:/opt/spark/jars/*" graft.Bench \
    > /dev/null
done < "$KERNELS_FILE"

python3 - "$TMP" "$OUT" <<'EOF'
import glob, json, os, sys
tmp, out = sys.argv[1], sys.argv[2]
q, sh, err = {}, {}, {}
for f in sorted(glob.glob(os.path.join(tmp, "*.json"))):
    d = json.load(open(f))
    q.update(d["queries"])
    sh.update(d.get("shuffle_bytes", {}))
    err.update(d.get("errors", {}))
json.dump({"metric": "isolated", "unit": "sec",
           "note": "one JVM per kernel (tools/run_sfx10_isolated.sh)",
           "queries": q, "shuffle_bytes": sh, "errors": err},
          open(out, "w"), indent=1)
print(f"wrote {out}: {len(q)} kernels, errors: {err}")
EOF
