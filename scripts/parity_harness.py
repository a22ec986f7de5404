#!/usr/bin/env python
"""Real-model parity harness: the engine vs the reference BioNExt outputs.

Runs the engine's tagger→linker→extractor pipeline with the REAL
HuggingFace checkpoints and the REAL knowledge bases, then scores the
emitted (entity1, entity2, type, novel) relations against the reference's
own published output (outputs/extractor/predicts.json) at the BASELINE
target P/R ≥ 0.95. This image has no torch, so the script cannot run
here — it is written to run UNMODIFIED in any GPU/torch environment:

    pip install torch transformers        # the only extras
    python scripts/parity_harness.py dataset/bc8_biored_task1_test.json \
        --kb-folder knowledge-bases/ --dataset-folder dataset/ \
        --golden outputs/extractor/predicts.json

Mirrors the reference CLI (main.py: positional BioC source_file) and its
defaults: tagger checkpoint IEETA/BioNExt-Tagger (main.py:26), extractor
IEETA/BioNExt-Extractor (main.py:62), linker encoder
cambridgeltl/SapBERT-UMLS-2020AB-all-lang-from-XLMR-large
(src/linker/seq_variant.py:213), KB layout knowledge-bases/ + dataset/
(main.py:47-51).

``--from-stage`` isolates which models run, so an engine-vs-model delta
is attributable:
  raw     full pipeline (tagger + encoder + extractor models)
  tagger  start from the golden tagger output: --input's annotations are
          the mentions; encoder + extractor models run
  linker  start from the golden linker output: only the extractor model
          runs — the same boundary the in-repo golden-parity tests
          (tests/test_golden_parity.py) verify model-free

The LitVar REST hop and the Ollama LLM hop are OFF by default (matching
an offline run); --litvar-memo / --llm-address enable them with the
engine's on-disk memoization (sources/external.MemoizedLookup), mirroring
the reference's diskcache (seq_variant.py:236-268, OllamaAPICall.py).

The pure-Spark plumbing this script drives (KB loaders, side-data build,
stage operators, scoring) is tested in-image without torch:
tests/test_kb_sources.py, tests/test_golden_parity.py, tests/test_hf_shim.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("source_file", help="BioC JSON test collection (reference main.py shape)")
    ap.add_argument("--golden", default="outputs/extractor/predicts.json",
                    help="reference extractor output to score against")
    ap.add_argument("--kb-folder", default="knowledge-bases/")
    ap.add_argument("--dataset-folder", default="dataset/")
    ap.add_argument("--tagger-checkpoint", default="IEETA/BioNExt-Tagger")
    ap.add_argument("--encoder-checkpoint",
                    default="cambridgeltl/SapBERT-UMLS-2020AB-all-lang-from-XLMR-large")
    ap.add_argument("--extractor-checkpoint", default="IEETA/BioNExt-Extractor")
    ap.add_argument("--device", default="cuda")
    ap.add_argument("--from-stage", choices=["raw", "tagger", "linker"], default="raw")
    ap.add_argument("--threshold", type=float, default=0.95,
                    help="P and R gate (BASELINE: P/R >= 0.95); exit 1 below it")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--litvar-memo", default=None,
                    help="memo dir for the LitVar REST hop (S8); enables live lookups")
    ap.add_argument("--llm-address", default=None,
                    help="Ollama-compatible /api/generate address for the K5 few-shot hop")
    ap.add_argument("--llm-model", default="mixtral-8x7b-instruct-4k:latest")
    ap.add_argument("--llm-memo", default=None, help="memo dir for LLM completions")
    ap.add_argument("--out", default=None, help="also write the engine triples as BioC JSON")
    ap.add_argument("--stub-models", action="store_true",
                    help="replace the HF models with the deterministic stubs so the "
                         "harness's full plumbing (BioC ingest, KB side data, stage "
                         "chain, scoring) runs in a torch-free image; scores are "
                         "then NOT parity evidence (tested in-image by "
                         "tests/test_parity_harness.py)")
    return ap


def _litvar_adapter():
    """Live LitVar autocomplete (reference seq_variant.py:122-129,
    rsid extraction :438-446). Key = '<cleaned mention> <symbol>';
    value = comma-joined rsids or None."""
    import requests

    class LitVarAdapter:
        def lookup_batch(self, keys):
            out = []
            for key in keys:
                url = ("https://www.ncbi.nlm.nih.gov/research/litvar2-api/"
                       f"variant/autocomplete/?query={key}")
                try:
                    resp = requests.get(url, timeout=30)
                    data = resp.json() if resp.status_code == 200 else None
                except Exception:
                    data = None
                rsids = [x["rsid"] for x in (data or []) if "rsid" in x]
                out.append(",".join(rsids) if rsids else None)
            return out

    return LitVarAdapter()


def _llm_complete(address: str, model: str):
    """Ollama /api/generate completion callable (reference
    OllamaAPICall.py); consumed by adapters.FewShotPromptLLM, which owns
    the byte-for-byte reference prompt."""
    import requests

    def complete(prompt: str) -> str | None:
        try:
            resp = requests.post(
                address,
                json={"model": model, "prompt": prompt, "stream": False},
                timeout=120,
            )
            return resp.json().get("response") if resp.status_code == 200 else None
        except Exception:
            return None

    return complete


def main() -> int:
    args = build_parser().parse_args()
    if not args.stub_models:
        try:
            import torch  # noqa: F401
            import transformers  # noqa: F401
        except ImportError as e:
            print(
                f"parity_harness needs torch+transformers ({e}); this repo's "
                "image ships without them — run in a GPU environment:\n"
                "  pip install torch transformers",
                file=sys.stderr,
            )
            return 2

    from pyspark.sql import functions as F

    from bionext_spark.adapters import (
        FewShotPromptLLM,
        HFEncoderAdapter,
        HFRelationAdapter,
        HFTaggerAdapter,
    )
    from bionext_spark.config import DEFAULT_CONFIG
    from bionext_spark.operators.linking import LinkerSideData, run_cleaner
    from bionext_spark.pipeline import KGRun, checkpoint_cuts, run_chain
    from bionext_spark.session import get_spark
    from bionext_spark.sources import kb
    from bionext_spark.sources.bioc import (
        read_bioc_annotations,
        read_bioc_as_transcripts,
        read_bioc_relations,
        write_bioc,
    )
    from bionext_spark.sources.external import MemoizedLookup

    cfg = DEFAULT_CONFIG
    spark = get_spark("parity-harness", cores=args.cores)
    transcripts = read_bioc_as_transcripts(spark, args.source_file)

    # --from-stage seeds stand in for the outputs of the stages they name;
    # the chain then runs only what the seeds do not cover
    seeds = {}
    if args.from_stage == "linker":
        seeds["clean_links"] = run_cleaner(
            read_bioc_annotations(spark, args.source_file),
            order_cols=("turn_idx", "ann_idx"),
        )
    elif args.from_stage == "tagger":
        # the file's identifiers are what the linker must produce, so the
        # seeded mentions carry none (run_linker adds linked_id)
        seeds["mentions"] = read_bioc_annotations(spark, args.source_file).drop("linked_id")

    # None adapters are the chain's deterministic stubs; a model is loaded
    # only for a stage the seeds leave to run
    run = KGRun(spark, cfg)
    if not args.stub_models:
        run.classifier = HFRelationAdapter(args.extractor_checkpoint, device=args.device)
        if args.from_stage == "raw":
            run.tagger = HFTaggerAdapter(args.tagger_checkpoint, device=args.device)
        if args.from_stage != "linker":
            run.encoder = HFEncoderAdapter(args.encoder_checkpoint, device=args.device)
    if args.from_stage != "linker":
        gene_lex = kb.load_gene_lexicon(spark, args.kb_folder)
        taxa = {r["tax_id"] for r in gene_lex.select("tax_id").distinct().collect()}
        run.side = LinkerSideData.build(
            spark,
            kb.train_direct_from_bioc(spark, args.dataset_folder, known_taxa=taxa),
            kb.load_concept_lexicon(spark, args.kb_folder),
            gene_lex,
            kb.load_variant_lexicon(spark, args.kb_folder),
        )
        run.gene_symbols = kb.load_gene_symbols(spark, args.kb_folder)
        if args.litvar_memo:
            run.litvar = MemoizedLookup(spark, args.litvar_memo, _litvar_adapter())
        if args.llm_address:
            run.llm = MemoizedLookup(
                spark, args.llm_memo or (args.litvar_memo or "/tmp") + "/llm",
                FewShotPromptLLM(_llm_complete(args.llm_address, args.llm_model)),
            )
            run.fewshot_examples = kb.load_variant_examples(spark, args.kb_folder, args.dataset_folder)
    triples = run_chain(
        run, transcripts, checkpoint_cuts, until="triples", seeds=seeds
    )["triples"].cache()
    if args.out:
        write_bioc(triples, args.out)

    # --- score vs golden: exact (doc, unordered {e1, e2}, type) match, the
    # reference's own evaluation granularity (BioCreative VIII triple
    # match; src/extractor/hf_training.py:24-43) ---
    def keyed(df, e1, e2):
        pair = F.array_sort(F.array(F.col(e1), F.col(e2)))
        return df.select(
            F.col("conv_id"),
            pair[0].alias("a"),
            pair[1].alias("b"),
            F.col("pred"),
            F.col("novel"),
        ).distinct()

    got = keyed(triples.withColumnRenamed("subj", "e1").withColumnRenamed("obj", "e2"),
                "e1", "e2")
    exp = keyed(read_bioc_relations(spark, args.golden), "entity1", "entity2")
    key = ["conv_id", "a", "b", "pred"]
    tp = got.select(*key).distinct().join(exp.select(*key).distinct(), key).count()
    n_got = got.select(*key).distinct().count()
    n_exp = exp.select(*key).distinct().count()
    precision = tp / n_got if n_got else 0.0
    recall = tp / n_exp if n_exp else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    # one novel value per key on each side before the novelty join: keyed()
    # distinct keeps rows differing only in `novel`, and a fanned-out join
    # could make nov exceed tp (novelty_accuracy > 1.0, ADVICE r5)
    nov = (
        got.groupBy(*key).agg(F.max("novel").alias("novel"))
        .join(exp.groupBy(*key).agg(F.max("novel").alias("novel_exp")), key)
        .filter(F.col("novel") == F.col("novel_exp"))
        .count()
    )
    result = {
        "from_stage": args.from_stage,
        "triples_engine": n_got,
        "triples_golden": n_exp,
        "true_positives": tp,
        "precision": round(precision, 4),
        "recall": round(recall, 4),
        "f1": round(f1, 4),
        "novelty_accuracy": round(nov / tp, 4) if tp else 0.0,
        "threshold": args.threshold,
        "pass": precision >= args.threshold and recall >= args.threshold,
    }
    print(json.dumps(result))
    return 0 if result["pass"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
