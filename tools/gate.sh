#!/usr/bin/env bash
# The un-skippable pre-commit gate (VERDICT r11 "Next round" #7): round 11
# lost 100% of its hard signal to a one-line type error committed without
# compiling. Run this before EVERY milestone commit — no exceptions for
# end-of-round snapshots; an uncompiled commit is worse than no commit.
#
# Usage: tools/gate.sh [query ...]
#   - always: sbt Test/compile + full ScalaTest suite
#   - with query names: additionally dump those queries at sf0.01 and run
#     the DuckDB oracle compare (tools/compare.py) on them
set -euo pipefail
cd "$(dirname "$0")/.."

# Every parquet source resolves its schema on the driver through
# graft.sources.Tables.parquet; a bare read.parquet( would bring back the
# one-task schema-inference job at query construction.
echo "== gate: parquet reads go through Tables.parquet =="
if grep -rn --include='*.scala' 'read\.parquet(' src/main \
    | grep -v '^src/main/scala/graft/sources/Tables\.scala:'; then
  echo "gate: FAIL — read parquet via graft.sources.Tables.parquet" >&2
  exit 1
fi

# The global window operators bucket rows by literal range bounds, so
# nothing in them persists; PlanCache is the one place that pins.
echo "== gate: global window operators never persist =="
if grep -nE 'persist\(|cache\(\)' src/main/scala/graft/operators/Global*.scala \
    src/main/scala/graft/operators/RangeBuckets.scala; then
  echo "gate: FAIL — global window operators must not persist; pin via PlanCache" >&2
  exit 1
fi

echo "== gate: Test/compile + suite =="
sbt -batch 'Test/compile' test

if [ "$#" -gt 0 ]; then
  out=$(mktemp -d /tmp/graft_gate.XXXXXX)
  echo "== gate: verify + oracle compare: $* =="
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out $*"
  python3 tools/compare.py /root/testdata/sf0.01 "$out" "$@"
  rm -rf "$out"
fi

# Per-query bench ratchet (VERDICT r15 #6): if a local bench_detail.json
# exists (i.e. graft.Bench was run), compare it against the newest
# committed per-round snapshot and fail on >2.5x unexplained per-query
# regressions. Runs only when both sides exist — the compile/test gate
# stays bench-independent for pure source milestones.
ref=$(ls BENCH_DETAIL_r*.json 2>/dev/null | sort -V | tail -1 || true)
if [ -n "$ref" ] && [ -f bench_detail.json ] && [ "$ref" != "bench_detail.json" ]; then
  echo "== gate: bench ratchet vs $ref =="
  python3 tools/bench_ratchet.py "$ref" bench_detail.json
fi
echo "== gate: PASS =="
