#!/usr/bin/env python
"""Linker sub-stage wall times at a given core count (flat-stage hunt)."""

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
    from bionext_spark.operators import linking as L
    from bionext_spark.pipeline import CHAIN, KGRun, checkpoint_cuts, run_chain
    from bionext_spark.session import get_spark
    from bionext_spark.sources import fixtures

    cfg = DEFAULT_CONFIG
    spark = get_spark(f"profile-linker-{args.cores}", cores=args.cores,
                      shuffle_partitions=max(args.cores, 8))
    transcripts = derive_transcripts(spark, args.sf_dir, args.replicate)
    run = KGRun(spark, cfg)
    chain_out = run_chain(run, transcripts, checkpoint_cuts, until="mentions")
    mentions = chain_out["mentions"]

    out = {"cores": args.cores}

    def step(name, fn, materialize=True):
        t0 = time.time()
        r = fn()
        if materialize and hasattr(r, "count"):
            n = r.count()
            out[f"n_{name}"] = n
        out[name] = round(time.time() - t0, 2)
        return r

    side = fixtures.linker_side_data(spark)

    mc = step("mentions_cache", lambda: mentions.cache())
    m = mentions.select(
        "conv_id", "mention_id", "label", "start",
        F.explode(
            F.when(
                F.col("label") == "OrganismTaxon",
                F.array(
                    F.struct(F.lit("raw").alias("key_kind"), F.col("text").alias("text_key")),
                    F.struct(F.lit("lower").alias("key_kind"), F.lower("text").alias("text_key")),
                ),
            ).otherwise(
                F.array(F.struct(F.lit("lower").alias("key_kind"), F.lower("text").alias("text_key")))
            )
        ).alias("k"),
    ).select("conv_id", "mention_id", "label", "start", "k.key_kind", "k.text_key")

    c_dict = step("c_dict", lambda: m.join(F.broadcast(side.dict_lex), ["label", "key_kind", "text_key"]).select(
        "conv_id", "mention_id", "label", "cand", F.col("rank").cast("long").alias("rank"), "priority"
    ).localCheckpoint())

    tax = step("tax_vote", lambda: L.majority_vote_grouped(
        c_dict.filter(F.col("label") == "OrganismTaxon").drop("label"),
        {"3052230": "11103"},
    ).localCheckpoint())

    linked_orgs = (
        mentions.filter(F.col("label") == "OrganismTaxon")
        .select("conv_id", "mention_id", F.col("start").alias("org_start"))
        .join(tax.select("conv_id", "mention_id", F.col("linked_id").alias("org_tax")),
              ["conv_id", "mention_id"])
        .select("conv_id", "org_tax", "org_start")
    )
    m_gene = step("gene_anchor", lambda: L._nearest_org_anchor(
        m.filter(F.col("label") == "GeneOrGeneProduct").drop("label", "key_kind"),
        linked_orgs, side.known_taxa,
    ).localCheckpoint())

    c_gene = step("c_gene", lambda: m_gene.alias("g").join(
        F.broadcast(side.gene_lex).alias("l"),
        (F.col("g.text_key") == F.col("l.text_key"))
        & (F.col("l.tax_id").isNull() | (F.col("l.tax_id") == F.col("g.tax_id"))),
    ).select("conv_id", "mention_id", F.lit("GeneOrGeneProduct").alias("label"),
             "cand", F.col("rank").cast("long").alias("rank"), "priority").localCheckpoint())

    # the chain's whole links stage, for the end-to-end wall
    t0 = time.time()
    links = next(s for s in CHAIN if s.name == "links").build(run, chain_out)
    out["n_links"] = links.count()
    out["run_linker_total"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
