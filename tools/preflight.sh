#!/bin/bash
# MANDATORY pre-snapshot gate (r17 verdict task #2): the r17 round lost
# its entire correctness record because an end-of-round refactor was
# committed without compiling. This script is the minimum bar before ANY
# end-of-round (or otherwise unverified) commit:
#   1. Test/compile           — the r17 failure class (main OR test broken)
#   2. QueryIndexSpec         — QUERY_INDEX.md anchors not stale
#   3. sink specs             — KafkaBatchWriterSpec + PipelineSpec: the
#      replication sink's envelope, null refusals, plan shape and
#      exactly-once replay, so a sink change is gated before commit
#   4. 12-query smoke Verify  — one query per heavy family actually runs
#      end-to-end at sf0.001 and oracle-passes in DuckDB (both PQ
#      layouts: x105 plain, x189 OPQ; the persisted BM25 index: x184;
#      the shared near-dup candidate stage: x52 LSH, x116 PPJoin prefix;
#      the shared exact-scoring path: x5 brute top-k, x170 nprobe sweep;
#      the persisted vector-index probes: x175 IVF, x179 IVF-PQ, x183 sign)
#   5. perfbench self-tests   — the benchmark's statistics and schedule
#   6. perfbench scalac build — src/main + perfbench/src compile together,
#      so a main-source change that breaks the benchmark fails here
# Exit 0 = safe to commit. Anything else = DO NOT COMMIT THE SNAPSHOT.
# It first prints the main-Scala line count, so a change's net size
# (ROADMAP aim 2) is read off the gate rather than counted by hand.
#
# Usage: tools/preflight.sh [sf-dir]   (default /root/testdata/sf0.001)
set -u
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.001}
SMOKE=${PREFLIGHT_SMOKE:-x1_exact_dedup,x105_pq_recall,x119_vocab_coverage,x189_pq_codes_opq,x184_bm25_topk_indexed,x52_lsh_calibration,x116_containment,x5_topk_cosine,x170_ann_nprobe_sweep,x175_ivf_topk_indexed,x179_ivfpq_topk_indexed,x183_hamming_topk_indexed}
OUT=$(mktemp -d /tmp/preflight.XXXXXX)
trap 'rm -rf "$OUT"' EXIT

echo "[preflight] main Scala lines: $(find src/main -name '*.scala' | xargs cat | wc -l)"

echo "[preflight] 1/6 Test/compile"
if ! sbt -batch "Test/compile" >"$OUT/compile.log" 2>&1; then
  tail -30 "$OUT/compile.log"
  echo "[preflight] FAIL: Test/compile broken — this is exactly the r17 loss; fix before committing" >&2
  exit 1
fi

echo "[preflight] 2/6 QueryIndexSpec (QUERY_INDEX.md staleness)"
if ! sbt -batch "testOnly graft.QueryIndexSpec" >"$OUT/index.log" 2>&1; then
  tail -30 "$OUT/index.log"
  echo "[preflight] FAIL: QUERY_INDEX.md is stale — run: sbt \"Test/runMain graft.QueryIndexGen\" and re-check" >&2
  exit 1
fi

echo "[preflight] 3/6 sink specs (KafkaBatchWriterSpec, PipelineSpec)"
if ! sbt -batch "testOnly graft.KafkaBatchWriterSpec graft.PipelineSpec" >"$OUT/sink.log" 2>&1; then
  tail -30 "$OUT/sink.log"
  echo "[preflight] FAIL: a replication sink spec failed" >&2
  exit 1
fi

echo "[preflight] 4/6 smoke Verify ($SMOKE @ $SF)"
if ! SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
    sbt -batch "runMain graft.Verify $SF $OUT/verify $SMOKE" >"$OUT/verify.log" 2>&1; then
  tail -30 "$OUT/verify.log"
  echo "[preflight] FAIL: smoke Verify crashed" >&2
  exit 1
fi
if grep -F '[verify] ' "$OUT/verify.log"; then
  echo "[preflight] FAIL: a smoke query failed inside Verify (lines above)" >&2
  exit 1
fi
if ! python3 tools/check.py "$SF" "$OUT/verify" >"$OUT/check.log" 2>&1; then
  tail -20 "$OUT/check.log"
  echo "[preflight] FAIL: DuckDB oracle mismatch on a smoke query" >&2
  exit 1
fi
tail -1 "$OUT/check.log"

echo "[preflight] 5/6 perfbench self-tests"
if ! python3 -m unittest discover -s perfbench/tests >"$OUT/perftest.log" 2>&1; then
  tail -30 "$OUT/perftest.log"
  echo "[preflight] FAIL: perfbench self-tests" >&2
  exit 1
fi

echo "[preflight] 6/6 perfbench scalac build (src/main + perfbench/src)"
# the jar directory perfbench/run.py uses: $SPARK_HOME/jars, else build.sbt's unmanagedBase
JARS=${SPARK_HOME:+$SPARK_HOME/jars}
JARS=${JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)}
if ! bash perfbench/build.sh "$OUT/perfbench-classes" "$JARS" >"$OUT/perfbuild.log" 2>&1; then
  tail -30 "$OUT/perfbuild.log"
  echo "[preflight] FAIL: perfbench does not compile against src/main" >&2
  exit 1
fi
echo "[preflight] OK — safe to commit"
