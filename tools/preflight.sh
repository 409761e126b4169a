#!/usr/bin/env bash
# Snapshot preflight — run this at the SHA you intend to leave behind.
# Rounds 7 and 8 both shipped red because nothing executed at the end
# of the round; this makes "green snapshot" a single command:
#   1. full ScalaTest suite (includes TablesContractSpec, which names
#      fixture-schema drift, and CatalogDocSpec, which names doc-count
#      drift);
#   2. graft.Verify dump at the driver's gate scale (sf0.01);
#   3. DuckDB oracle compare over every catalog query.
# Exit code 0 = safe to stop; anything else names the failure.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="$(mktemp -d /tmp/graft_preflight.XXXXXX)"
VERIFY_LOG="$(mktemp /tmp/graft_preflight_verify.XXXXXX)"
trap 'rm -rf "$OUT_DIR" "$VERIFY_LOG"' EXIT

echo "[preflight] 1/3 sbt test"
sbt -batch test 2>&1 | tail -4

echo "[preflight] 2/3 graft.Verify $SF_DIR -> $OUT_DIR"
# Verify exits 0 even when queries fail, so the gate reads its
# "[verify] ok N/M" summary: a missing line means Verify crashed.
if ! sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" >"$VERIFY_LOG" 2>&1; then
  tail -20 "$VERIFY_LOG"
  echo "[preflight] FAIL: Verify crashed"; exit 1
fi
grep -E '\[verify\].*failed' "$VERIFY_LOG" || true
SUMMARY="$(grep -oE '\[verify\] ok [0-9]+/[0-9]+' "$VERIFY_LOG" | tail -1 || true)"
if [ -z "$SUMMARY" ]; then
  tail -20 "$VERIFY_LOG"
  echo "[preflight] FAIL: Verify printed no summary line (crashed?)"; exit 1
fi
OK_N="${SUMMARY#\[verify\] ok }"
if [ "${OK_N%/*}" != "${OK_N#*/}" ]; then
  echo "[preflight] FAIL: $SUMMARY queries succeeded"; exit 1
fi
echo "$SUMMARY"

echo "[preflight] 3/3 DuckDB oracle compare"
python3 tools/local_verify.py "$SF_DIR" "$OUT_DIR" | tail -3

echo "[preflight] OK at $(git rev-parse --short HEAD) ($(git status --porcelain | wc -l) uncommitted paths)"
