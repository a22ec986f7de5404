#!/usr/bin/env python
"""Sub-stage breakdown of the pairs stage (and its input skew) at a given
core count — finds WHY pairs doesn't scale N→4N."""

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
    from bionext_spark.operators.pairs import generate_pairs, pair_spans
    from bionext_spark.pipeline import KGRun, checkpoint_cuts, run_chain
    from bionext_spark.session import get_spark

    cfg = DEFAULT_CONFIG
    spark = get_spark(f"profile-pairs-{args.cores}", cores=args.cores,
                      shuffle_partitions=max(args.cores, 8))
    transcripts = derive_transcripts(spark, args.sf_dir, args.replicate)
    cleaned = run_chain(KGRun(spark, cfg), transcripts, checkpoint_cuts,
                        until="clean_links")["clean_links"]

    out = {"cores": args.cores}
    t0 = time.time()
    n_clean = cleaned.count()
    out["n_clean_links"] = n_clean

    t0 = time.time()
    ids = cleaned.select("conv_id", "linked_id", "label").distinct().localCheckpoint()
    out["t_distinct"] = round(time.time() - t0, 2)
    out["n_distinct_ids"] = ids.count()

    t0 = time.time()
    pairs = generate_pairs(cleaned, cfg).localCheckpoint()
    out["t_generate_pairs"] = round(time.time() - t0, 2)
    out["n_pairs"] = pairs.count()

    # mention-part explode size
    t0 = time.time()
    mp = cleaned.select(
        "conv_id", "start", "end",
        F.posexplode(F.split("linked_id", ",")).alias("part_pos", "part"),
    ).localCheckpoint()
    out["t_mention_parts"] = round(time.time() - t0, 2)
    out["n_mention_parts"] = mp.count()

    t0 = time.time()
    spans = pair_spans(pairs, cleaned).localCheckpoint()
    out["t_pair_spans"] = round(time.time() - t0, 2)
    out["n_spans"] = spans.count()

    # skew: top conversations by pair count and by mention count
    top_pairs = pairs.groupBy("conv_id").count().orderBy(F.desc("count")).limit(3).collect()
    top_ments = cleaned.groupBy("conv_id").count().orderBy(F.desc("count")).limit(3).collect()
    out["top_conv_pairs"] = [(r["conv_id"], r["count"]) for r in top_pairs]
    out["top_conv_mentions"] = [(r["conv_id"], r["count"]) for r in top_ments]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
