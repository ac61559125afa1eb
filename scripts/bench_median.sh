#!/bin/bash
# Median-mode bench for the heavy tail (VERDICT r9 #6): single-run
# numbers on the pseudo-sf10 tail vary up to 6x ACROSS sessions with
# identical bytecode (SCALE.md coda 4), so round-over-round records
# need per-query medians from INTERLEAVED same-session runs.
#
# Usage: bench_median.sh <sfDir> <runs> <out.json> <query> [query...]
#
# 1. One full graft.Bench pass -> target/bench.json (every query once).
# 2. One graft.tools.TimeQuery session timing the listed heavy queries
#    <runs> times in interleaved order (q1 q2 .. qN q1 q2 .. — the
#    interleaved-A/B discipline: machine-state drift hits all queries of
#    a round equally instead of biasing one).
# 3. Merge: out.json = the full-pass record + per-heavy-query
#    {median,min,max,runs} overriding the single-run number.
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SF_DIR=$1; RUNS=$2; OUT=$3; shift 3
HEAVY=("$@")

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-100g} \
  -cp $ROOT/target/scala-2.13/classes:/opt/spark/jars/*"

echo "[median] full bench pass on $SF_DIR"
SPARK_GRAFT_SF_DIR=$SF_DIR $JAVA graft.Bench

INTERLEAVED=""
for ((i = 0; i < RUNS; i++)); do INTERLEAVED="$INTERLEAVED ${HEAVY[*]}"; done
echo "[median] interleaved heavy-tail runs: $INTERLEAVED"
$JAVA graft.tools.TimeQuery "$SF_DIR" $INTERLEAVED | tee /tmp/heavy_times.txt

python3 - "$OUT" "$SF_DIR" <<'EOF'
import json, re, statistics, sys
out, sf = sys.argv[1], sys.argv[2]
base = json.load(open("target/bench.json"))
runs = {}
for line in open("/tmp/heavy_times.txt"):
    m = re.match(r"TIMED (\S+) ([0-9.]+) s", line)
    if m:
        runs.setdefault(m.group(1), []).append(float(m.group(2)))
base["heavy_medians"] = {
    q: {"median": round(statistics.median(v), 2),
        "min": round(min(v), 2), "max": round(max(v), 2), "runs": v}
    for q, v in runs.items()}
base["note"] = ("heavy_medians are interleaved same-session TimeQuery "
                "runs; queries{} is one full Bench pass")
with open(out, "w") as f:
    json.dump(base, f)
print(f"[median] wrote {out}")
for q, s in base["heavy_medians"].items():
    print(f"[median] {q}: median={s['median']} min={s['min']} max={s['max']}")
EOF
