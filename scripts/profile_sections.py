#!/usr/bin/env python
"""Per-stage N-vs-4N scaling decomposition of the in-memory KG chain.

Runs ``flagship.run_kg_pipeline``'s plan (the declared chain through
triples, materialized by ``pipeline.checkpoint_cuts``) at two core counts
in back-to-back fresh subprocess JVMs, timing each stage's
materialization, and prints a per-stage table: seconds at N, seconds at
4N, the stage's own N→4N efficiency, and its share of the 4N wall. This
names WHERE the remaining non-scaling seconds live.

The timing adds no cut: stages the chain leaves lazy (``links``,
``pairs``) show only what their build does eagerly (for ``links``, the
linker's side data and driver-side set-up), and the rest of their work is
charged to the next stage that runs it (``clean_links``, ``triples``; the
triples row includes the final noop write).

Usage: python scripts/profile_sections.py --n 2 --replicate 12
       python scripts/profile_sections.py --cores 4 --replicate 8   # one point
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_sections(cores: int, replicate: int, sf_dir: str, warmup: bool,
                 reps: int = 1) -> dict:
    from bionext_spark.flagship import derive_transcripts, run_kg_pipeline
    from bionext_spark.pipeline import KGRun, checkpoint_cuts, run_chain
    from bionext_spark.session import get_spark

    mem = os.environ.get("SPARK_DRIVER_MEM") or f"{max(8, (cores * 3) // 2)}g"
    spark = get_spark(
        f"sections-{cores}", cores=cores, shuffle_partitions=max(cores, 8),
        extra_conf={"spark.driver.memory": mem},
    )
    if warmup:
        warm = sf_dir.replace("sf0.1", "sf0.01")
        run_kg_pipeline(spark, warm if os.path.isdir(warm) else sf_dir, 1).write.format(
            "noop"
        ).mode("overwrite").save()

    out: dict = {"cores": cores, "replicate": replicate}

    # reps > 1: run the identical chain that many times in this one warm
    # JVM and keep the LAST pass — the bench's min-of-reps protocol showed
    # rep 1 carries 20-25% of one-time JIT/heap-growth cost that rep 2+
    # (the steady state the gate measures) does not.
    for _ in range(max(1, reps)):
        sections: dict[str, float] = {}
        t_all = time.time()

        def timed(stage, build, inputs):
            t0 = time.time()
            df = checkpoint_cuts(stage, build, inputs)
            sections[stage] = time.time() - t0
            return df

        triples = run_chain(
            KGRun(spark), derive_transcripts(spark, sf_dir, replicate), timed, until="triples"
        )["triples"]
        t0 = time.time()
        triples.write.format("noop").mode("overwrite").save()
        sections["triples"] += time.time() - t0
        out["sections"] = {k: round(v, 2) for k, v in sections.items()}
        out["total"] = round(time.time() - t_all, 2)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--replicate", type=int, default=12)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=0, help="child mode: run one point")
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--reps", type=int, default=1, help="passes in one JVM; last reported")
    args = ap.parse_args()

    if args.cores:
        print(json.dumps(run_sections(args.cores, args.replicate, args.sf_dir,
                                      not args.cold, args.reps)))
        return

    def one(cores: int) -> dict:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cores", str(cores),
             "--replicate", str(args.replicate), "--sf-dir", args.sf_dir,
             "--reps", str(args.reps)],
            capture_output=True, text=True,
        )
        line = [l for l in p.stdout.strip().splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    rn, r4 = one(args.n), one(4 * args.n)
    print(f"{'stage':16} {'N='+str(args.n):>8} {'4N='+str(4*args.n):>8} "
          f"{'eff':>6} {'4N share':>9}")
    for k in rn["sections"]:
        a, b = rn["sections"][k], r4["sections"][k]
        eff = a / (4 * b) if b else float("nan")
        print(f"{k:16} {a:8.1f} {b:8.1f} {eff:6.2f} {b / r4['total']:9.1%}")
    print(f"{'TOTAL':16} {rn['total']:8.1f} {r4['total']:8.1f} "
          f"{rn['total'] / (4 * r4['total']):6.2f}")


if __name__ == "__main__":
    main()
