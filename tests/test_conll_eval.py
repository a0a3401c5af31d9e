"""CoNLL evaluation harness tests (reference semantics:
ner_trainer.cpp:614-688 + the exact-range get_label rule at :409-422)."""

import os

import pytest

from mitie_spark.models.conll_eval import (
    conll_sentences_df,
    evaluate_ner,
    evaluate_ner_df,
)


class _StubModel:
    """extract_entities returns canned predictions per sentence (keyed by
    first token)."""

    def __init__(self, preds):
        self.preds = preds

    def extract_entities(self, tokens):
        return self.preds.get(tokens[0], [])


def test_evaluate_ner_hand_computed():
    # sentence A truth: (0,2,PERSON), (3,4,LOCATION)
    # predictions:      (0,2,PERSON) true det
    #                   (3,4,PERSON) det for PERSON, exact range exists but
    #                                label differs -> NOT a true det
    # sentence B truth: (1,3,LOCATION)
    # predictions:      (1,2,LOCATION) range not in truth -> false det
    #                   (the truth chunk is missed entirely)
    sents = [["A", "x", "y", "z", "w"], ["B", "p", "q", "r"]]
    truths = [
        [(0, 2, "PERSON"), (3, 4, "LOCATION")],
        [(1, 3, "LOCATION")],
    ]
    model = _StubModel(
        {
            "A": [(0, 2, "PERSON", 1.0), (3, 4, "PERSON", 1.0)],
            "B": [(1, 2, "LOCATION", 1.0)],
        }
    )
    rows = {r["label"]: r for r in evaluate_ner(model, sents, truths)}
    per = rows["PERSON"]
    assert (per["n_targets"], per["n_dets"], per["n_true_dets"]) == (1, 2, 1)
    assert per["precision"] == 0.5 and per["recall"] == 1.0
    assert abs(per["f1"] - 2 * 0.5 * 1.0 / 1.5) < 1e-12
    loc = rows["LOCATION"]
    assert (loc["n_targets"], loc["n_dets"], loc["n_true_dets"]) == (2, 1, 0)
    assert loc["precision"] == 0.0 and loc["recall"] == 0.0 and loc["f1"] == 0.0
    ov = rows["OVERALL"]
    assert (ov["n_targets"], ov["n_dets"], ov["n_true_dets"]) == (3, 3, 1)
    assert abs(ov["precision"] - 1 / 3) < 1e-12
    assert abs(ov["recall"] - 1 / 3) < 1e-12


_TO_CONLL = {"PERSON": "PER", "LOCATION": "LOC", "ORGANIZATION": "ORG"}


def _chunks_to_bio(n, chunks):
    labs = ["O"] * n
    for s, e, tag in chunks:
        t = _TO_CONLL[tag]
        labs[s] = f"B-{t}"
        for i in range(s + 1, e):
            labs[i] = f"I-{t}"
    return labs


def test_evaluate_ner_df_on_toy_conll(spark, tmp_path):
    """End-to-end: corpus sentences rendered as a CoNLL file, evaluated
    with the committed model — the distributed metrics must equal the
    driver-side port exactly, and parity on planted truth is perfect."""
    import random

    from mitie_spark.corpus import make_sentence
    from mitie_spark.operators.extraction import load_ner_model
    from mitie_spark.models.train import ARTIFACT_DIR

    rng = random.Random("conll-eval")
    lines = []
    sents, truths = [], []
    for _ in range(40):
        toks, ments, _rels = make_sentence(rng)
        chunks = [(s, e, tag) for s, e, tag, _ in ments]
        sents.append(toks)
        truths.append(chunks)
        for tok, lab in zip(toks, _chunks_to_bio(len(toks), chunks)):
            lines.append(f"{tok} NNP I-NP {lab}")
        lines.append("")
    p = str(tmp_path / "toy.conll")
    with open(p, "w") as f:
        f.write("\n".join(lines))

    ner_path = os.path.join(ARTIFACT_DIR, "ner_model.npz")
    # sources/conll.py already expands CoNLL tags (PER → PERSON, …)
    df = evaluate_ner_df(conll_sentences_df(spark, p), ner_path, round_to=None)
    got = {r["label"]: r.asDict() for r in df.collect()}

    expected = {
        r["label"]: r
        for r in evaluate_ner(load_ner_model(ner_path), sents, truths)
    }
    assert set(got) == set(expected)
    for lab, exp in expected.items():
        for k in ("n_targets", "n_dets", "n_true_dets"):
            assert got[lab][k] == exp[k], (lab, k)
        for k in ("precision", "recall", "f1"):
            assert abs(got[lab][k] - exp[k]) < 1e-12, (lab, k)
    # the committed model reproduces planted truth exactly
    assert got["OVERALL"]["precision"] == 1.0
    assert got["OVERALL"]["recall"] == 1.0
