#!/usr/bin/env bash
# Launch the KG pipeline via spark-submit --py-files (north_rule launch mode).
#
# Usage: tools/submit_pipeline.sh --input <spans.parquet> --out <dir>
#        [--cpus N] [--force]
#
# Packages recrun_spark into a zip (the unit a real cluster ships to
# executors) and submits tools/run_pipeline.py.  On a cluster, replace
# --master with your cluster manager; everything else is identical.
# Only the master, the driver heap and the zip are set here: the submitted
# driver's session.get_spark keeps that master and sets every SQL option
# (AQE, skew join, Arrow, shuffle partitions = max(2 * cpus, 8)).
set -euo pipefail

REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# unset env: size to this machine by the same rule as session.get_spark;
# --cpus N (passed on to the pipeline, which sizes the session with it)
# also sets the master's cores
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
args=("$@")
for i in "${!args[@]}"; do
  case "${args[$i]}" in
    --cpus) CPUS="${args[$((i + 1))]}" ;;
    --cpus=*) CPUS="${args[$i]#--cpus=}" ;;
  esac
done
HEAP="${SPARK_GRAFT_DRIVER_MEM:-$(cd "$REPO" && python3 -c \
  'from recrun_spark.session import _machine_heap; print(_machine_heap())')}"
ZIP_DIR="$(mktemp -d)"
trap 'rm -rf "$ZIP_DIR"' EXIT
ZIP="$ZIP_DIR/recrun_spark.zip"

(cd "$REPO" && python3 - "$ZIP" <<'PY'
import os, sys, zipfile
zip_path = sys.argv[1]
with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
    for root, _dirs, files in os.walk("recrun_spark"):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(root, fn)
                z.write(p, p)
print(f"packaged {zip_path}")
PY
)

# no exec: the shell stays to remove the zip on exit, and exits with
# spark-submit's status (set -e)
/opt/spark/bin/spark-submit \
  --master "local[${CPUS}]" \
  --driver-memory "$HEAP" \
  --py-files "$ZIP" \
  "$REPO/tools/run_pipeline.py" "$@"
