#!/usr/bin/env bash
# End-of-round artifact regeneration — ONE session at ONE HEAD.
#
#   scripts/artifacts.sh <round>
#
# Writes BENCH_*_r<round>.json, DUCKDB_ANCHOR.json and
# ANCHOR_INTERLEAVED.json. Order: correctness gate first (fails fast),
# then the bench ladder (frozen -> sf0.1 -> sf1 -> sf1 skew -> sf1 exact
# -> sf1/sf10 index family), then BOTH anchors: the classic sequential
# DuckDB anchor and the interleaved anchor (scripts/anchor_interleaved.py
# — Spark and DuckDB alternate per query, so both ride the same noise
# window). Every step runs on SPARK_GRAFT_CPUS cores, default: all of
# this host's.
set -euo pipefail
cd "$(dirname "$0")/.."

case "${1:-}" in
  '' | *[!0-9]*) echo "usage: scripts/artifacts.sh <round>  (round: a number, e.g. 19)" >&2; exit 2 ;;
esac
R="$1"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

wipe_index_dirs() {
  (cd /tmp && for d in graft_*; do
    case "$d" in graft_sf1|graft_sf1_skew|graft_sf10) ;; *) rm -rf "$d";; esac
  done)
}

bench() { # sfdir outfile [args...]
  local sfdir="$1" out="$2"; shift 2
  SPARK_GRAFT_SF_DIR="$sfdir" \
    sbt -batch "runMain graft.Bench $*" 2>&1 | grep '"metric":"total_full"' \
    | tail -1 | sed 's/^\[info\] //' > "$out"
  python3 -c "import json,sys; d=json.load(open('$out')); \
print('$out', d['battery'], d['sf'], len(d['queries']), round(d['value'],2), 's')"
}

# the anchors read the oracle map Verify writes next to one query's output
oracle_map() {
  rm -rf /tmp/graft_anchor_out
  sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/graft_anchor_out q_table_scan" >/dev/null 2>&1
}

INDEX_FILTER="q_ann_ivf,q_ann_ivf_append,q_ann_ivfpq,q_ann_lsh,q_ann_pq,q_bloom_gate,q_bloom_occupancy,q_bm25_append,q_bm25_batch,q_bm25_index,q_dedup_compact,q_dedup_index,q_dedup_ingest,q_dedup_minhash,q_dedup_minhash_collapsed,q_dedup_simhash,q_dedup_simhash_collapsed,q_embedding_neardup,q_embedding_neardup_collapsed,q_hard_negatives_ivf,q_pq_recon,q_rrf_ivf,q_semdedup"

echo "== [0/10] scale data (regenerate if the /tmp dirs were wiped)"
[ -d /tmp/graft_sf1 ] || python3 scripts/make_sf1.py /tmp/graft_sf1
[ -d /tmp/graft_sf1_skew ] || python3 scripts/make_sf1_skew.py /tmp/graft_sf1 /tmp/graft_sf1_skew
[ -d /tmp/graft_sf10 ] || python3 scripts/make_sf1.py /tmp/graft_sf10 /tmp/graft_sf1 documents,embeddings

echo "== [1/10] full correctness gate at HEAD $(git rev-parse --short HEAD)"
./scripts/gate.sh

# The frozen-content corpus is the ONLY round-over-round comparison
# battery: driver testdata regeneration cannot touch it.
echo "== [2/10] BENCH_frozen_r$R (frozen-content corpus)"
python3 scripts/make_frozen.py --check
wipe_index_dirs
bench "$(pwd)/frozen" "BENCH_frozen_r$R.json"

echo "== [3/10] BENCH_sf01_r$R (full default battery @ sf0.1)"
wipe_index_dirs
bench /root/testdata/sf0.1 "BENCH_sf01_r$R.json"

echo "== [4/10] BENCH_sf1_r$R (full default battery @ sf1)"
wipe_index_dirs
bench /tmp/graft_sf1 "BENCH_sf1_r$R.json"

echo "== [5/10] BENCH_sf1_skew_r$R (full default battery @ sf1 zipfian skew)"
wipe_index_dirs
bench /tmp/graft_sf1_skew "BENCH_sf1_skew_r$R.json"

echo "== [6/10] BENCH_sf1_exact_r$R (brute-force verify primitives)"
bench /tmp/graft_sf1 "BENCH_sf1_exact_r$R.json" --exact q_hard_negatives,q_rrf,q_hard_negatives_ivf,q_rrf_ivf

echo "== [7/10] BENCH_sf1_index_r$R (index family, fresh builds)"
wipe_index_dirs
bench /tmp/graft_sf1 "BENCH_sf1_index_r$R.json" "$INDEX_FILTER"

echo "== [8/10] BENCH_sf10_index_r$R (index family @ sf10 slice)"
wipe_index_dirs
bench /tmp/graft_sf10 "BENCH_sf10_index_r$R.json" "$INDEX_FILTER"

echo "== [9/10] DuckDB anchor @ sf0.1 (classic sequential)"
oracle_map
python3 scripts/duckdb_anchor.py /root/testdata/sf0.1 \
  /tmp/graft_anchor_out/oracle_sql.json DUCKDB_ANCHOR.json

echo "== [10/10] interleaved anchor @ sf0.1 (noise-robust, 3 rounds)"
# wipe BEFORE re-dumping the oracle map: graft_anchor_out itself
# matches the graft_* wipe pattern
wipe_index_dirs
oracle_map
python3 scripts/anchor_interleaved.py /root/testdata/sf0.1 \
  /tmp/graft_anchor_out/oracle_sql.json ANCHOR_INTERLEAVED.json 3

echo "== artifact set for round $R complete at HEAD $(git rev-parse --short HEAD)"
