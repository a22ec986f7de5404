"""K5 engine-side few-shot retrieval (reference seq_variant.py:239-268:
torch.topk(train_embeddings @ target, k=50), keep scores > 0.6, examples
feed the LLM prompt in topk order) — the selection is a DATAFLOW op,
consumed by the LLM hop through the memo lookup's context column."""

from __future__ import annotations

import os

import numpy as np
import pytest

from bionext_spark.adapters import FewShotPromptLLM, build_fewshot_prompt
from bionext_spark.operators.linking import select_fewshot_examples


def _vec_encoder(table):
    """Deterministic test encoder: fixed vector per known string.

    Defined inside a function so cloudpickle serializes the class by
    VALUE — Spark workers cannot import the test module by name."""

    class VecEncoder:
        dim = 3

        def __init__(self, table):
            self.table = table

        def encode_batch(self, texts):
            return [self.table[t] for t in texts]

    return VecEncoder(table)


EX_TABLE = {
    # examples
    "v600e": [1.0, 0.0, 0.0],
    "c76a": [0.0, 1.0, 0.0],
    "g5del": [0.8, 0.6, 0.0],
    "far": [0.0, 0.0, 1.0],
    # queries
    "q_near_v600e": [0.95, 0.05, 0.0],
    "q_orthogonal": [0.0, 0.0, 1.0],
}


@pytest.fixture()
def examples_df(spark):
    rows = [
        ("v600e", "p|SUB|V|600|E", "BRAF"),
        ("c76a", "c|SUB|C|76|A", "TP53"),
        ("g5del", "g|DEL|5|A", "EGFR"),
        ("far", "p|SUB|F|1|R", "KRAS"),
    ]
    return spark.createDataFrame(rows, "mention string, code string, gene string")


def _numpy_reference(query, k, thr):
    """Reference-by-construction: scores, stable desc sort, filter > thr."""
    M = np.array([EX_TABLE[m] for m in ("v600e", "c76a", "g5del", "far")])
    col = M @ np.array(query)
    top = np.argsort(-col, kind="stable")[:k]
    names = ["v600e", "c76a", "g5del", "far"]
    return [names[i] for i in top if col[i] > thr]


def test_selection_matches_numpy_reference(spark, examples_df):
    enc = _vec_encoder(EX_TABLE)
    texts = spark.createDataFrame(
        [("q_near_v600e",), ("q_orthogonal",)], "text_key string"
    )
    got = {
        r["text_key"]: [s["mention"] for s in r["shots"]]
        for r in select_fewshot_examples(
            spark, texts, examples_df, enc, k=50, threshold=0.6
        ).collect()
    }
    assert got["q_near_v600e"] == _numpy_reference(EX_TABLE["q_near_v600e"], 50, 0.6)
    assert got["q_orthogonal"] == _numpy_reference(EX_TABLE["q_orthogonal"], 50, 0.6)
    # the orthogonal query only clears the threshold for its aligned example
    assert got["q_orthogonal"] == ["far"]
    # v600e (0.95) and g5del (0.79) clear 0.6 for the near query, in score order
    assert got["q_near_v600e"] == ["v600e", "g5del"]


def test_selection_k_cap_and_order(spark, examples_df):
    enc = _vec_encoder(EX_TABLE)
    texts = spark.createDataFrame([("q_near_v600e",)], "text_key string")
    got = select_fewshot_examples(
        spark, texts, examples_df, enc, k=1, threshold=0.0
    ).collect()[0]["shots"]
    assert [s["mention"] for s in got] == ["v600e"]  # top-1 by score
    assert got[0]["gene"] == "BRAF" and got[0]["code"] == "p|SUB|V|600|E"


def test_prompt_assembly_consumes_shots():
    shots = [
        {"gene": "BRAF", "mention": "v600e", "code": "p|SUB|V|600|E"},
        {"gene": "TP53", "mention": "c76a", "code": "c|SUB|C|76|A"},
    ]
    prompt = build_fewshot_prompt("g5x", "EGFR", shots)
    i1 = prompt.index("Gene: BRAF Mention: v600e Code: p|SUB|V|600|E")
    i2 = prompt.index("Gene: TP53 Mention: c76a Code: c|SUB|C|76|A")
    assert i1 < i2  # retrieval order preserved
    assert prompt.rstrip().endswith("Gene: EGFR Mention: g5x Code:")
    assert "SUB" in prompt and "INDEL" in prompt  # tmVar rules present

    seen = []
    adapter = FewShotPromptLLM(lambda p: (seen.append(p), "c|SUB|A|1|T")[1])
    vals = adapter.lookup_batch_ctx(["g5x\x00EGFR"], {"shots": [shots]})
    assert vals == ["c|SUB|A|1|T"] and seen == [prompt]


def test_llm_hop_receives_engine_selected_examples(spark, tmp_path):
    """End-to-end wiring: run_linker's deep LLM hop ships the selected
    examples to the adapter as context — the adapter does NOT re-derive
    them."""
    from bionext_spark import synth
    from bionext_spark.adapters import StubEncoder, StubLexiconTagger
    from bionext_spark.operators.assemble import assemble_conversations
    from bionext_spark.operators.linking import run_linker
    from bionext_spark.operators.tagging import run_tagger
    from bionext_spark.sources import fixtures
    from bionext_spark.sources.external import MemoizedLookup

    # the adapter executes on Spark python workers (mapInPandas), so it
    # records what it saw to a file the driver-side test reads back
    seen_path = str(tmp_path / "seen.jsonl")

    class Recorder:
        def lookup_batch(self, keys):  # pragma: no cover - ctx path expected
            raise AssertionError("context column did not reach the adapter")

        def lookup_batch_ctx(self, keys, ctx):
            import json

            with open(seen_path, "a") as fh:
                for key, shots in zip(keys, ctx["shots"]):
                    fh.write(
                        json.dumps(
                            {
                                "key": key,
                                "shots": None
                                if shots is None
                                else [dict(s) for s in shots],
                            }
                        )
                        + "\n"
                    )
            return [synth.fake_llm_response(k) for k in keys]

    rows = [r for r in synth.generate_transcripts() if r["conv_id"] in ("conv9998", "conv9999")]
    transcripts = spark.createDataFrame(rows)
    convs = assemble_conversations(transcripts)
    mentions = run_tagger(convs, StubLexiconTagger(synth.tag_lexicon_entries()))
    links = run_linker(
        spark,
        mentions,
        side=fixtures.linker_side_data(spark),
        encoder=StubEncoder(),
        gene_symbols=fixtures.gene_symbols_df(spark),
        llm=MemoizedLookup(spark, str(tmp_path / "m"), Recorder()),
        fewshot_examples=fixtures.variant_examples_df(spark),
    )
    linked = {r["text"]: r["linked_id"] for r in links.collect() if r["method"] == "llm"}
    assert linked  # LLM hop ran

    import json
    import os

    assert os.path.exists(seen_path)  # adapter got (key, shots) pairs
    received = [json.loads(line) for line in open(seen_path)]
    assert received
    for rec in received:
        assert rec["key"]  # memo key carries (text, gene), not the examples
        assert rec["shots"] is None or all(
            set(s) == {"gene", "mention", "code"} for s in rec["shots"]
        )


def test_prompt_handles_numpy_shots():
    """The Spark path delivers shots as numpy arrays (Arrow -> pandas turns
    array<struct> cells into ndarray); `shots or []` raised on len >= 2."""
    np_shots = np.array(
        [
            {"gene": "BRAF", "mention": "v600e", "code": "p|SUB|V|600|E"},
            {"gene": "TP53", "mention": "c76a", "code": "c|SUB|C|76|A"},
        ],
        dtype=object,
    )
    prompt = build_fewshot_prompt("g5x", "EGFR", np_shots)
    assert "Gene: BRAF Mention: v600e" in prompt
    assert build_fewshot_prompt("g5x", "EGFR", None).count("Gene:") == 1
    assert build_fewshot_prompt("g5x", "EGFR", np.array([], dtype=object)).count("Gene:") == 1


def test_relational_fallback_matches_driver_path(spark, examples_df):
    """max_driver_rows below the example count routes to the fully
    relational scorer (no full collect); output must equal the driver
    path row for row — same scores, threshold, k cap, and order."""
    enc = _vec_encoder(EX_TABLE)
    texts = spark.createDataFrame(
        [("q_near_v600e",), ("q_orthogonal",)], "text_key string"
    )

    def run(**kw):
        return {
            r["text_key"]: [tuple(s) for s in r["shots"]]
            for r in select_fewshot_examples(
                spark, texts, examples_df, enc, k=50, threshold=0.6, **kw
            ).collect()
        }

    driver = run()
    fallback = run(max_driver_rows=2)  # 4 examples > 2 → relational path
    assert fallback == driver
    assert [s[1] for s in fallback["q_near_v600e"]] == ["v600e", "g5del"]


def test_relational_fallback_empty_shots_and_k_cap(spark, examples_df):
    enc = _vec_encoder(EX_TABLE)
    texts = spark.createDataFrame([("q_orthogonal",)], "text_key string")
    rows = select_fewshot_examples(
        spark, texts, examples_df, enc, k=1, threshold=1.5, max_driver_rows=0
    ).collect()
    # nothing clears an impossible threshold, but the text still gets a row
    assert [(r["text_key"], list(r["shots"])) for r in rows] == [("q_orthogonal", [])]


REFERENCE_SEQ_VARIANT = "/root/reference/src/linker/seq_variant.py"


@pytest.mark.skipif(
    not os.path.exists(REFERENCE_SEQ_VARIANT),
    reason=f"reference source not mounted: {REFERENCE_SEQ_VARIANT}",
)
def test_prompt_verbatim_vs_reference_source():
    """The prompt must be BYTE-identical to the reference's (seq_variant.py
    :244-268): extract the reference's own triple-quoted literal and
    replay its concatenation logic, then compare whole strings."""
    import re as _re

    src = open(REFERENCE_SEQ_VARIANT).read()
    header = _re.search(r'prompt = """(.*?)"""', src, _re.S).group(1)
    shots = [
        {"gene": "BRAF", "mention": "v600e", "code": "p|SUB|V|600|E"},
        {"gene": "TP53", "mention": "c76a", "code": "c|SUB|C|76|A"},
    ]
    expected = header
    for s in shots:
        expected += "Gene: " + s["gene"] + " Mention: " + s["mention"] + " Code: " + s["code"] + "\n"
    expected += "Now, complete the last entry:\n" + "Gene: EGFR Mention: g5x Code: "
    assert build_fewshot_prompt("g5x", "EGFR", shots) == expected
    assert build_fewshot_prompt("g5x", "EGFR", None) == (
        header + "Now, complete the last entry:\nGene: EGFR Mention: g5x Code: "
    )
