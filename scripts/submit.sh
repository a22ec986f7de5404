#!/usr/bin/env bash
# Cluster launch: package the engine and run the KG pipeline via
# spark-submit --py-files (the north rule's launch mode). The session
# conf comes from bionext_spark.session.get_spark inside
# scripts/run_pipeline.py, so it is not repeated here.
#   - A cluster launch sets SPARK_GRAFT_ON_CLUSTER=1, so get_spark leaves
#     the master to spark-submit (MASTER, or spark.master in
#     spark-defaults.conf).
#   - Without it, the run is local[SPARK_GRAFT_CPUS].
#   - SHUFFLE_PARTITIONS overrides get_spark's shuffle partition count.
set -euo pipefail
cd "$(dirname "$0")/.."

rm -f /tmp/bionext_spark.zip
zip -qr /tmp/bionext_spark.zip bionext_spark

exec spark-submit \
  --driver-memory "${DRIVER_MEM:-8g}" \
  --py-files /tmp/bionext_spark.zip \
  scripts/run_pipeline.py "$@"
