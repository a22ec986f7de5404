#!/usr/bin/env python
"""Bisect pair_spans internals at a given core count."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--replicate", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bionext_spark.config import DEFAULT_CONFIG
    from bionext_spark.flagship import derive_transcripts
    from bionext_spark.operators.pairs import generate_pairs
    from bionext_spark.pipeline import KGRun, checkpoint_cuts, run_chain
    from bionext_spark.session import get_spark

    cfg = DEFAULT_CONFIG
    spark = get_spark(f"profile-spans-{args.cores}", cores=args.cores,
                      shuffle_partitions=max(args.cores, 8))
    transcripts = derive_transcripts(spark, args.sf_dir, args.replicate)
    cleaned = run_chain(KGRun(spark, cfg), transcripts, checkpoint_cuts,
                        until="clean_links")["clean_links"]
    pairs = generate_pairs(cleaned, cfg).localCheckpoint()

    out = {"cores": args.cores}

    def step(name, fn):
        t0 = time.time()
        df = fn().localCheckpoint()
        out[name] = round(time.time() - t0, 2)
        out[f"n_{name}"] = df.count()
        return df

    mention_parts = step("mention_parts", lambda: cleaned.select(
        "conv_id", "start", "end",
        F.posexplode(F.split("linked_id", ",")).alias("part_pos", "part")))

    pair_cols = ["conv_id", "e1_id", "e1_type", "e2_id", "e2_type"]
    pair_parts = step("pair_parts", lambda: pairs.select(
        *pair_cols, F.lit(1).alias("side"), F.explode(F.split("e1_id", ",")).alias("part")
    ).unionByName(pairs.select(
        *pair_cols, F.lit(2).alias("side"), F.explode(F.split("e2_id", ",")).alias("part"))))

    j = step("join", lambda: pair_parts.join(mention_parts, ["conv_id", "part"]))

    pm = step("groupby1", lambda: j.groupBy(
        "conv_id", "e1_id", "e1_type", "e2_id", "e2_type", "start", "end"
    ).agg(
        F.min(F.when(F.col("side") == 1, F.col("part_pos"))).alias("p1"),
        F.min(F.when(F.col("side") == 2, F.col("part_pos"))).alias("p2"),
    ).withColumn("order", F.when(
        F.col("p1").isNotNull() & (F.col("p2").isNull() | (F.col("p1") <= F.col("p2"))), 1
    ).otherwise(2)))

    step("groupby2", lambda: pm.groupBy("conv_id", "e1_id", "e1_type", "e2_id", "e2_type").agg(
        F.array_sort(F.collect_list(F.when(F.col("order") == 1, F.struct("start", "end")))).alias("spans1"),
        F.array_sort(F.collect_list(F.when(F.col("order") == 2, F.struct("start", "end")))).alias("spans2"),
    ))

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
