#!/bin/bash
# Dense-resolver A/B on a LONG-conversation corpus (r4 verdict #4):
# the short-conversation bench corpus never reaches the dense
# sim-matrix threshold (p50=3 candidate rows/conv vs the 192-row
# engage point), so the dense path's win rested on synthetic window
# timings. This study runs the IDENTICAL pipeline on a corpus of
# 120-1500-turn conversations (tools/prep_bench_corpus.py --profile
# long; ~330-4100 candidate rows/conv, the >3000 ones exercising the
# turn-aligned window split) at two executor counts, with the dense
# path ON (default threshold 192), OFF (threshold 10^9 -> scalar
# loop everywhere), and at a LOWERED threshold (64; r4 verdict #8's
# candidate default), asserting byte-identical triples across every
# config via an order-insensitive md5. Executor topology matches
# tools/exec_scaling_bench.sh (local-cluster[E,2,2048]: real separate
# JVMs; the faithful N-vs-4N proxy on one host).
set -euo pipefail
cd "$(dirname "$0")/.."

CONVS="${KG_LONG_CONVS:-2000}"
DOMAINS="${KG_LONG_DOMAINS:-40}"
REPEATS="${KG_LONG_REPEATS:-2}"
LEVELS="${KG_LONG_LEVELS:-4 1}"
CONFIGS="${KG_LONG_CONFIGS:-192 1000000000 64}"
CYCLE="${KG_LONG_CYCLE:-}"   # e.g. "30,60": the 64-192-row band probe
TAG="${KG_LONG_TAG:-long}"       # distinguishes corpora in /tmp result names
BASE="${KG_LONG_BASE:-/dev/shm/kg_long}"
mkdir -p "$BASE"
INPUT="$BASE/input"
DICT="$BASE/dict"
ZIP=/tmp/careers_spark.zip

if [ ! -d "$INPUT/transcripts" ] || [ "${FORCE_PREP:-0}" = "1" ]; then
  rm -rf "$INPUT" "$DICT"
  python tools/prep_bench_corpus.py --n-convs "$CONVS" --n-domains "$DOMAINS" \
    --profile long ${CYCLE:+--turn-cycle "$CYCLE"} --out "$INPUT"
fi

rm -f "$ZIP"; zip -qr "$ZIP" careers_spark

if [ ! -f "$DICT/model.pkl" ]; then
  spark-submit --master "local[32]" \
    --conf spark.sql.shuffle.partitions=64 \
    --conf spark.driver.memory=6g \
    --conf spark.local.dir="$BASE/spark-local" \
    --py-files "$ZIP" \
    run_pipeline.py --input "$INPUT" --work-dir "$BASE/dictbuild" \
    --dict-cache "$DICT" --dict-only 2>/dev/null | tail -1
fi

for E in $LEVELS; do
  for CFG in $CONFIGS; do
    for R in $(seq 1 "$REPEATS"); do
      rm -rf "$BASE/run"
      uptime
      spark-submit --master "local-cluster[$E,2,2048]" \
        --conf spark.sql.shuffle.partitions=$((4 * E)) \
        --conf spark.driver.memory=4g \
        --conf spark.local.dir="$BASE/spark-local" \
        --conf spark.executorEnv.KG_DENSE_MIN_ROWS="$CFG" \
        --py-files "$ZIP" \
        run_pipeline.py --input "$INPUT" --work-dir "$BASE/run" \
        --dict-cache "$DICT" --skip-pr \
        --json-out "/tmp/kg_${TAG}_${E}_${CFG}_r${R}.json" 2>/dev/null | tail -1
    done
    # order-insensitive content hash of the triples output — must be
    # IDENTICAL across all (E, CFG): the dense path is an execution
    # strategy, never a semantics change
    python - "$E" "$CFG" "$BASE/run/triples" "$TAG" <<'PY'
import hashlib, sys
import duckdb
e, cfg, path, tag = sys.argv[1:]
# hive_partitioning: the triples table is partitioned by pred, so the
# pred column lives in directory names, not the part files
rows = duckdb.sql(
    "SELECT conv_id, turn_idx, subj, pred, obj FROM "
    f"read_parquet('{path}/**/*.parquet', hive_partitioning=1) "
    "ORDER BY ALL"
).fetchall()
h = hashlib.md5("\n".join(map(repr, rows)).encode()).hexdigest()
print(f"E={e} cfg={cfg} triples={len(rows)} md5={h}")
with open(f"/tmp/kg_{tag}_md5_{e}_{cfg}.txt", "w") as f:
    f.write(f"{len(rows)} {h}\n")
PY
  done
done

echo "--- summary ---"
python - <<'PY'
import glob, json
for p in sorted(glob.glob(f"/tmp/kg_{__import__('os').environ.get('KG_LONG_TAG','long')}_*_r*.json")):
    j = json.load(open(p))
    tag = p.split("/tmp/kg_")[1].removesuffix(".json")
    st = j.get("stages", {})
    print(f"{tag:22s} wall={j['wall_s']:8.1f}s resolved={st.get('resolved',{}).get('wall_s','?'):>8}s "
          f"turns/s={j['turns_per_sec']:8.1f} triples={j['n_triples']}")
for p in sorted(glob.glob(f"/tmp/kg_{__import__('os').environ.get('KG_LONG_TAG','long')}_md5_*.txt")):
    print(p, open(p).read().strip())
PY
