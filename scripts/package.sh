#!/usr/bin/env bash
# Package the engine for spark-submit --py-files (north_rule deployment).
#
# Usage:
#   scripts/package.sh [out.zip]     # default dist/n8n_tools_api_spark.zip
#
# Then on the cluster:
#   spark-submit --py-files dist/n8n_tools_api_spark.zip \
#     --conf spark.sql.adaptive.enabled=true \
#     --conf spark.sql.adaptive.skewJoin.enabled=true \
#     --conf spark.sql.execution.arrow.maxRecordsPerBatch=512 \
#     --conf spark.checkpoint.dir=hdfs://namenode/checkpoints \
#     your_job.py
#
# spark.checkpoint.dir makes every lineage cut a reliable parquet cut on
# shared storage (operators/materialize.py), so a lost executor cannot
# kill a long iterative run; without it cuts stay executor-local.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:-dist/n8n_tools_api_spark.zip}"
mkdir -p "$(dirname "$OUT")"
rm -f "$OUT"
zip -qr "$OUT" n8n_tools_api_spark -x '*__pycache__*'
echo "wrote $OUT ($(du -h "$OUT" | cut -f1))"
