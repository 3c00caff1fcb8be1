#!/bin/bash
# Dev-only scale-gate runner (r10 VERDICT #1/#5/#6 → SCALE_GATE_r11;
# r11 VERDICT #2 → SCALE_GATE_r12).
# Usage:
#   tools/scale_gate.sh distinct     # 64x distinct-payload arm, stage-adjudicated
#   tools/scale_gate.sh distinct128  # 128x distinct-payload arm, same adjudication
#   tools/scale_gate.sh verbatim    # 128x verbatim arm, non-pair inventory, chunked
# Inputs are built once by graft.tools.ScaleUp:
#   target/distinct64   (64x,  distinct mode)
#   target/distinct128  (128x, distinct mode)
#   target/scaleup128   (128x, verbatim)
set -euo pipefail
cd "$(dirname "$0")/.."

# The r10 distinct arm's 32 similarity/ANN/vocab faces + the r10 VERDICT
# item-6 extension (span/chunk/boilerplate/contamination dedup family,
# whose shuffles are token-position-sized — the axis that multiplies
# distinct spans is exactly their stressor).
#
# r12: these faces are also EXCLUDED from the verbatim arm, with
# measured cause. Verbatim replication leaves text/embedding payloads
# byte-identical across copies, so every similarity face's candidate
# join — and its DECLARED OUTPUT — grows with the SQUARE of the factor
# (each original match becomes factor^2 copy-pairs ≈ 16384x at 128x):
# the r12 verbatim attempt spilled 73 GB of shuffle on
# q_ngram_containment alone before exhausting the disk, and the DuckDB
# oracle faces the same quadratic. That is a degeneracy of duplicated
# corpora (an all-pairs answer), not an engine scale limit; the axis
# that scales this family linearly while stressing signature
# cardinality is the DISTINCT mode (disjoint per-copy payloads) —
# adjudicated at 64x in r11 and at 128x by the distinct128 arm below.
DISTINCT_FACES="q_ann_ivf,q_ann_lsh,q_ann_recall,q_ann_refine,q_ann_topk,\
q_dedup_clusters,q_dedup_embedding,q_dedup_exact,q_dedup_fuzzy,\
q_dedup_keep_best,q_dedup_minhash,q_dedup_semantic,q_dedup_simhash,\
q_distinctive_terms,q_dup_rate,q_embed_cov,q_embed_prdim,q_heavy_hitters,\
q_ivf_rebalance,q_ivf_stats,q_knn_join,q_lsh_recall,q_lsh_tuning,\
q_ngram_containment,q_ngram_jaccard,q_pmi,q_setsim_prefix,q_vocab,\
q_vocab_approx,q_vocab_overlap,q_weighted_sample,q_zipf,\
q_span_dedup,q_span_dedup_fast,q_chunk_dedup,q_boilerplate,\
q_contamination_ngram,q_contamination"

run_distinct_arm() {  # $1 = replica dir, $2 = verify out dir
  SPARK_GRAFT_DUMP_PARTS=1 SPARK_GRAFT_DUMP_STAGES=1 \
    SPARK_GRAFT_ONLY="$DISTINCT_FACES" \
    SPARK_EXTRA_JAVA_OPTS="-Dspark.io.compression.codec=zstd" \
    tools/runjvm.sh graft.Verify "$1" "$2"
  # q_vocab_approx adjudication is excluded by oracle precondition
  # (r10 gate, annotated): the exact-count oracle is valid only while
  # |vocab| <= the 64 MG counters; the distinct axis multiplies the
  # vocabulary past that by design, entering the overflow regime whose
  # no-miss guarantee is pinned by the FreqAgg property spec. The face
  # still dumps (rows+schema recorded via EXCLUDED).
  python3 tools/oracle_check.py "$2" "$1" \
    --timeout 240 --scale-oracles --stage-oracles --skip q_vocab_approx
}

case "${1:?arm}" in
  distinct)    run_distinct_arm target/distinct64  target/verify_distinct64 ;;
  distinct128) run_distinct_arm target/distinct128 target/verify_distinct128 ;;
  verbatim)
    # Inventory = the registry (the oracle_sql.json keys of a full
    # Verify dump over the in-tree sf0.01 input) minus the similarity
    # family above (adjudicated on the distinct axis); gate_inventory.py
    # refuses an exclusion that names no registered face. Split into 3
    # chunks (sorted-order modulus for balance), one Verify JVM per chunk
    # run CONCURRENTLY: a JVM's shuffle/spill dirs are reclaimed at exit,
    # so no chunk inherits another's disk debt, and the per-face
    # System.gc() inside dump-mode Verify lets the ContextCleaner reclaim
    # shuffle files within a chunk. zstd shuffle compression bounds spill
    # for the token-position-sized exchanges.
    tools/runjvm.sh graft.Verify perfbench/data/sf0.01 target/verify_registry
    python3 tools/gate_inventory.py target/verify_registry "$DISTINCT_FACES" \
      > target/verbatim_chunks.txt
    i=0
    pids=()
    while read -r chunk; do
      SPARK_GRAFT_DUMP_PARTS=1 SPARK_GRAFT_CPUS=11 SPARK_DRIVER_MEM=12g \
        SPARK_EXTRA_JAVA_OPTS="-Dspark.io.compression.codec=zstd" \
        SPARK_GRAFT_ONLY="$chunk" \
        tools/runjvm.sh graft.Verify target/scaleup128 "target/verify128_c$i" \
        > "target/verify128_c$i.log" 2>&1 &
      pids+=($!)
      i=$((i+1))
    done < target/verbatim_chunks.txt
    rc=0
    for p in "${pids[@]}"; do wait "$p" || rc=$?; done
    [ "$rc" -eq 0 ] || { echo "verify chunk failed (rc=$rc)" >&2; exit "$rc"; }
    # each chunk dir carries its own filtered oracle_sql.json — 3
    # checker processes, one per chunk (the r10 cadence)
    python3 - <<'EOF'
import subprocess, sys
procs = [subprocess.Popen(
    ["python3", "tools/oracle_check.py", f"target/verify128_c{i}",
     "target/scaleup128", "--timeout", "240", "--scale-oracles"],
    stdout=open(f"target/verify128_c{i}/check.log", "w"),
    stderr=subprocess.STDOUT)
    for i in range(3)]
rc = max(p.wait() for p in procs)
for i in range(3):
    sys.stdout.write(open(f"target/verify128_c{i}/check.log").read())
sys.exit(rc)
EOF
    ;;
  *) echo "unknown arm: $1" >&2; exit 2 ;;
esac
