#!/usr/bin/env python
"""spark-submit entry point: run the KG pipeline over a transcripts table.

Usage:
  spark-submit --py-files bionext_spark.zip scripts/run_pipeline.py \
      --transcripts <parquet dir> --checkpoints <dir> [--synth]

The session comes from ``session.get_spark``, the engine's one session
conf. ``SHUFFLE_PARTITIONS`` in the environment sets the shuffle
partitions (default: ``get_spark``'s); ``SPARK_GRAFT_ON_CLUSTER=1`` takes
the master from spark-submit instead of ``local[SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Direct `python scripts/run_pipeline.py` runs: make the repo importable.
# (Under spark-submit --py-files the zip is already on the path.)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bionext_spark import pipeline, schemas
from bionext_spark.session import get_spark
from bionext_spark.sources.fixtures import transcripts_df


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", help="parquet dir with the transcripts table")
    ap.add_argument("--checkpoints", required=True)
    ap.add_argument("--synth", action="store_true", help="use the seeded synthetic transcripts")
    args = ap.parse_args()

    spark = get_spark(shuffle_partitions=int(os.environ.get("SHUFFLE_PARTITIONS") or 0))

    if args.synth or not args.transcripts:
        transcripts = transcripts_df(spark)
    else:
        transcripts = spark.read.schema(schemas.TRANSCRIPTS).parquet(args.transcripts)

    result = pipeline.run(spark, transcripts, args.checkpoints)
    print(json.dumps(result.metrics(), indent=2))


if __name__ == "__main__":
    main()
