#!/usr/bin/env bash
# spark-submit packaging path (north_rule: ships via --py-files).
# Usage: scripts/submit.sh [job-script] [job args...]
# Extra args are passed to the JOB (images_parquet out_dir run_id
# [polygons_parquet]), NOT to spark-submit — edit SUBMIT_ARGS below
# for spark-submit configuration.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JOB="${1:-$REPO/scripts/job_spatial_tiles.py}"
shift || true

ZIP="$REPO/dist/esri_dump_spark.zip"
mkdir -p "$REPO/dist"
(cd "$REPO" && python - <<'EOF'
import os, zipfile
os.makedirs("dist", exist_ok=True)
with zipfile.ZipFile("dist/esri_dump_spark.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk("esri_dump_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            # .json: the package ships data (the wkid CRS table)
            if f.endswith((".py", ".json")):
                p = os.path.join(root, f)
                z.write(p, p)
print("wrote dist/esri_dump_spark.zip")
EOF
)

exec spark-submit \
  --master "${SPARK_MASTER:-local[*]}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --py-files "$ZIP" \
  "$JOB" "$@"
