#!/usr/bin/env bash
# Package the engine and run the KG job via spark-submit --py-files
# (the north-rule execution mode).  Usage:
#   scripts/submit_kg_job.sh --input synthetic:2000 --output /tmp/kg_out
# Extra args are passed through to vnlp_spark/bin/kg_job.py.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/vnlp_spark.zip
rm -f "$ZIP"
python - <<'EOF'
import os
import zipfile

with zipfile.ZipFile("/tmp/vnlp_spark.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for root, _dirs, files in os.walk("vnlp_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            p = os.path.join(root, f)
            z.write(p, p)
print("packaged /tmp/vnlp_spark.zip")
EOF

MASTER="${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-32}]}"
# the job builds its own session, so these mirror vnlp_spark/session.py:
# AQE with its runtime skew split, and the same 64 MB broadcast threshold
# under which the planner broadcasts the entity table into the edge joins
exec spark-submit \
    --master "$MASTER" \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.adaptive.skewJoin.enabled=true \
    --conf spark.sql.autoBroadcastJoinThreshold=64m \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.shuffle.partitions="${SPARK_SHUFFLE_PARTITIONS:-64}" \
    --py-files "$ZIP" \
    vnlp_spark/bin/kg_job.py "$@"
