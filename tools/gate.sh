#!/usr/bin/env bash
# Pre-snapshot gate: run before ANY end-of-round (or otherwise final)
# commit. Round 10 shipped a snapshot that did not compile because no
# automated check stood between "edit" and "commit"; this script is that
# check. It fails fast and loudly — a non-zero exit means DO NOT COMMIT.
#
#   tools/gate.sh          # compile + full ScalaTest + 4-query bench smoke
#                          #   + commit-path oracle
#   tools/gate.sh --quick  # the same without sbt test
#
# Output tail is meant to be pasted into the snapshot commit message.
set -uo pipefail
cd "$(dirname "$0")/.."

fail() { echo "GATE FAIL: $1" >&2; exit 1; }

echo "== gate: sbt compile =="
sbt -batch compile 2>&1 | tail -3 | sed 's/^/  /'
[ "${PIPESTATUS[0]}" -eq 0 ] || fail "sbt compile"

if [ "${1:-}" != "--quick" ]; then
  echo "== gate: sbt test =="
  sbt -batch test 2>&1 | tail -6 | sed 's/^/  /'
  [ "${PIPESTATUS[0]}" -eq 0 ] || fail "sbt test"
fi

# graft.Bench rewrites ./bench_min.json with its rolling minimum at
# whatever SF it runs; keep the smoke's sf0.001 entries out of the
# tracked file by putting the saved copy back on exit
TMPD=$(mktemp -d)
cp bench_min.json "$TMPD/bench_min.json" 2>/dev/null
trap 'if [ -f "$TMPD/bench_min.json" ]; then cp "$TMPD/bench_min.json" bench_min.json; else rm -f bench_min.json; fi; rm -rf "$TMPD"' EXIT

echo "== gate: 4-query bench smoke (sf0.001) =="
SMOKE=$(SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
  tools/run.sh graft.Bench dedup_embed_keepers,margin_align_pairs,hybrid_rrf_topk,dup_graph_kcore \
  2>/dev/null | grep '"metric"' | tail -1)
[ -n "$SMOKE" ] || fail "bench smoke produced no JSON line"
echo "  $SMOKE"

# the smoke queries commit no table; the snapshot_/mor_ queries drive every
# VersionedSnapshot commit path (publish, merge, overlay, compact, restore,
# clone, column mapping, purge), and the incr_/cdc_merge replays commit
# through mergeBatch and mergeIntoBatch, all checked by result against DuckDB
echo "== gate: commit-path oracle (snapshot_,mor_,incr_,cdc_merge at sf0.001) =="
VOUT="$TMPD"
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
  tools/run.sh graft.Verify /root/testdata/sf0.001 "$VOUT/out" snapshot_,mor_,incr_,cdc_merge \
  > "$VOUT/verify.log" 2>&1 || { tail -5 "$VOUT/verify.log" >&2; fail "commit-path Verify"; }
python3 tools/check_correctness.py /root/testdata/sf0.001 "$VOUT/out" > "$VOUT/check.log" 2>&1
CHECK=$?
grep -v ' OK$' "$VOUT/check.log" | sed 's/^/  /'
echo "  $(grep -c ' OK$' "$VOUT/check.log") queries OK"
[ "$CHECK" -eq 0 ] || fail "commit-path oracle"
grep -q ' OK$' "$VOUT/check.log" || fail "commit-path oracle checked no query"

echo "GATE OK"
