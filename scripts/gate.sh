#!/bin/bash
# One-command correctness gate at the contract parallelism, local[4]:
# Verify's default, with SPARK_GRAFT_CPUS deliberately unset (each run's
# oracle_env.json records the master). sf0.01 fixtures, full query set,
# DuckDB oracle compare.
#
#   scripts/gate.sh [sfDir] [outDir] [queryPrefixes]
#
# Defaults: sfDir=/root/testdata/sf0.01, outDir=/tmp/gate_out, all queries.
# Exit 0 iff every query passes rows+schema+hash. On FAIL, check_oracle.py
# prints the per-gate oracle_env.json evidence (resolved oracle mode,
# fingerprint, parallelism, raw measured values) so a red row carries its
# own diagnosis. Builder and driver must never drift again: if you are
# about to commit a pinned golden, this script — not a SPARK_GRAFT_CPUS=8
# shortcut — is the contract.
set -u
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/gate_out}"
PREFIXES="${3:-}"

# Mirror the driver: no core-count override, no oracle-mode override.
unset SPARK_GRAFT_CPUS GRAFT_ORACLE_MODE

if [ ! -f target/scala-2.13/classes/graft/Verify.class ]; then
  echo "gate.sh: classes missing — running sbt compile" >&2
  sbt -batch compile || exit 2
fi

rm -rf "$OUT_DIR"
if [ -n "$PREFIXES" ]; then
  scripts/run_tool.sh graft.Verify "$SF_DIR" "$OUT_DIR" "$PREFIXES" || exit 2
  python3 scripts/check_oracle.py "$SF_DIR" "$OUT_DIR" "$PREFIXES"
else
  scripts/run_tool.sh graft.Verify "$SF_DIR" "$OUT_DIR" || exit 2
  python3 scripts/check_oracle.py "$SF_DIR" "$OUT_DIR"
fi
rc=$?
if [ $rc -eq 0 ]; then
  echo "gate.sh: GREEN ($SF_DIR, driver defaults)"
else
  echo "gate.sh: RED — see per-query evidence above and $OUT_DIR/oracle_env.json" >&2
fi
exit $rc
