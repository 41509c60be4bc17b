#!/usr/bin/env bash
# Builder-side correctness gate — the composition the round-6 incident
# showed was missing: graft.Verify (per-query parquet + oracle_sql.json)
# piped into tools/check_oracle.py (DuckDB adjudication), leaving a
# committable CORRECTNESS_local_rN.json. If the driver's own gate
# artifact ever comes back empty again, the round still carries a
# signed-by-the-builder correctness record for every declared query.
#
# Verify runs with java.io.tmpdir on a freshly created, empty
# directory ($OUT_DIR/tmp, removed at exit), so every gate rebuilds
# each persisted index from an empty store root and no run adds an
# index set to the shared /tmp/graft_base_index.
#
# Usage: tools/local_gate.sh <round> [sfDir] [outDir]
#   e.g.  tools/local_gate.sh 7            # gates sf0.01, writes CORRECTNESS_local_r7.json
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: tools/local_gate.sh <round> [sfDir] [outDir]}"
SF_DIR="${2:-/root/testdata/sf0.01}"
OUT_DIR="${3:-/tmp/verify_local_r$ROUND}"
ARTIFACT="CORRECTNESS_local_r$ROUND.json"
STORE_ROOT="$OUT_DIR/tmp"

rm -rf "$STORE_ROOT"
mkdir -p "$STORE_ROOT"
trap 'rm -rf "$STORE_ROOT"' EXIT
sbt -batch "set run / javaOptions += \"-Djava.io.tmpdir=$STORE_ROOT\"" \
  "runMain graft.Verify $SF_DIR $OUT_DIR" 1>&2
python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR" "$ARTIFACT"
echo "gate green — commit $ARTIFACT" 1>&2
