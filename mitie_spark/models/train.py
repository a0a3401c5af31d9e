"""Offline model training + holdout evaluation for the synthetic-corpus KG
pipeline.

Analog of the reference's training entry points (EP4, SURVEY.md §3:
tools/ner_conll --train → ner_trainer::train two-part pipeline,
ner_trainer.cpp:224-276; tools/train_freebase_relation_detector). Training is
driver-side NumPy — prediction is the distributed part of the system; the
reference trains single-node too (4 threads, ner_trainer.cpp:122).

Usage:  python -m mitie_spark.models.train [--out DIR] [--train-docs N]
Artifacts: ner_model.npz, relation_model.npz (+ METRICS line on stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

from mitie_spark.corpus import PREDS, make_sentence
from mitie_spark.models.ner_model import NOT_ENTITY, NerModel, TAGS
from mitie_spark.models.relation_model import RelationModel, train_relation_model
from mitie_spark.models.svm_train import (
    train_chunk_classifier_svm,
    train_segmenter_svm,
)
from mitie_spark.models.text_categorizer import train_text_categorizer

TAG_ID = {t: i for i, t in enumerate(TAGS)}

ARTIFACT_DIR = os.path.join(os.path.dirname(__file__), "artifacts")


def make_doc(rng: random.Random, n_sent_lo=2, n_sent_hi=6):
    """A training mini-doc: concatenated sentences with doc-level spans.

    Mirrors the page layout of corpus.make_page, including the title line
    ("Report N from site-K.example") whose capitalized first token is a
    classic NER false positive if unseen in training."""
    toks, ments, rels = [], [], []
    if rng.random() < 0.7:
        toks.extend(
            ["Report", str(rng.randrange(100000)), "from",
             f"site-{rng.randrange(20)}.example"]
        )
    for _ in range(rng.randint(n_sent_lo, n_sent_hi)):
        t, m, r = make_sentence(rng)
        base = len(toks)
        mbase = len(ments)
        toks.extend(t)
        ments.extend((base + s, base + e, tag, surf) for s, e, tag, surf in m)
        rels.extend((mbase + si, p, mbase + oi) for si, p, oi in r)
    return toks, ments, rels


def make_categorizer_doc(rng: random.Random):
    """Labeled doc for the text categorizer (M5): 70% of sentences share a
    dominant template kind; the label is that kind."""
    kinds = ["born", "contains", "works", "salad"]
    label = rng.choice(kinds)
    toks = []
    for _ in range(rng.randint(5, 9)):
        want = label if rng.random() < 0.7 else rng.choice(kinds)
        for _ in range(20):  # rejection-sample the wanted template
            t, m, r = make_sentence(rng)
            kind = (
                "salad" if not m else
                "born" if any(p == "born_in" for _, p, _ in r) else
                "contains" if any(p == "contains" for _, p, _ in r) else
                "works" if any(p == "works_for" for _, p, _ in r) else None
            )
            if kind == want:
                toks.extend(t)
                break
    return toks, label


def build_categorizer_data(n_docs: int, seed: int):
    rng = random.Random(f"cat:{seed}")
    return [make_categorizer_doc(rng) for _ in range(n_docs)]


def build_training_data(n_docs: int, seed: int):
    rng = random.Random(f"train:{seed}")
    seg_sents, cls_examples, rel_examples = [], [], []
    for _ in range(n_docs):
        toks, ments, rels = make_doc(rng)
        chunks = [(s, e) for s, e, _, _ in ments]
        seg_sents.append((toks, chunks))
        # classifier positives
        for s, e, tag, _ in ments:
            cls_examples.append((toks, s, e, TAG_ID[tag]))
        # classifier negatives: random non-entity spans + boundary-shifted spans
        occupied = set()
        for s, e in chunks:
            occupied.update(range(s, e))
        for _ in range(3):
            s = rng.randrange(0, max(len(toks) - 2, 1))
            e = min(s + rng.randint(1, 2), len(toks))
            if not (set(range(s, e)) & occupied):
                cls_examples.append((toks, s, e, NOT_ENTITY))
        for s, e in chunks[:2]:
            if e + 1 <= len(toks) and (e not in occupied):
                cls_examples.append((toks, s, e + 1, NOT_ENTITY))
        # relation candidates: adjacent mention pairs, both orders (EP3)
        pos = {}
        for si, p, oi in rels:
            pos[(si, oi)] = p
        order = sorted(range(len(ments)), key=lambda i: ments[i][0])
        for j in range(len(order) - 1):
            a, b = order[j], order[j + 1]
            sa, ea = ments[a][0], ments[a][1]
            sb, eb = ments[b][0], ments[b][1]
            rel_examples.append((toks, (sa, ea), (sb, eb), pos.get((a, b))))
            rel_examples.append((toks, (sb, eb), (sa, ea), pos.get((b, a))))
    return seg_sents, cls_examples, rel_examples


def evaluate(ner: NerModel, rel: RelationModel, n_docs: int, seed: int):
    """End-to-end P/R on held-out docs: mentions (span+tag exact) and triples
    (the extraction operator's adjacent-pair candidates), each document
    extracted by ``extract_tokens_batch`` as a batch of one."""
    from mitie_spark.operators.extraction import extract_tokens_batch

    rng = random.Random(f"eval:{seed}")
    tp_m = fp_m = fn_m = 0
    tp_r = fp_r = fn_r = 0
    for _ in range(n_docs):
        toks, ments, rels = make_doc(rng)
        _, pred_m, pred_trips = extract_tokens_batch([toks], ner, rel)[0]
        truth_m = {(s, e, tag) for s, e, tag, _ in ments}
        pred_set = {(m["start"], m["end"], m["tag"]) for m in pred_m}
        tp_m += len(truth_m & pred_set)
        fp_m += len(pred_set - truth_m)
        fn_m += len(truth_m - pred_set)

        truth_t = {
            (ments[si][3], p, ments[oi][3]) for si, p, oi in rels
        }
        pred_t = {(t["subj"], t["pred"], t["obj"]) for t in pred_trips}
        tp_r += len(truth_t & pred_t)
        fp_r += len(pred_t - truth_t)
        fn_r += len(truth_t - pred_t)

    def pr(tp, fp, fn):
        p = tp / (tp + fp) if tp + fp else 1.0
        r = tp / (tp + fn) if tp + fn else 1.0
        return round(p, 4), round(r, 4)

    pm, rm = pr(tp_m, fp_m, fn_m)
    pt, rt = pr(tp_r, fp_r, fn_r)
    return {
        "mention_precision": pm,
        "mention_recall": rm,
        "triple_precision": pt,
        "triple_recall": rt,
    }


def train_langid(out_dir: str = ARTIFACT_DIR) -> None:
    """Train the char-n-gram NB lang-ID on the synthetic per-language
    corpus and save it as a committed artifact (functions/langid — the
    driver corpora's lang labels are text-independent, so this is the
    learnable training source; see queries_kg._langid_model). Local NumPy
    fit of the same counts train_spark aggregates — tiny data, no session
    needed at artifact-build time."""
    import numpy as np

    from mitie_spark.functions.langid import (
        N_BUCKETS,
        _SMOOTH,
        CharNgramLangID,
        synthetic_lang_corpus,
        text_buckets,
    )

    rows = synthetic_lang_corpus(n_per_lang=200, seed=13)
    langs = sorted({l for l, _ in rows})
    lid = {l: i for i, l in enumerate(langs)}
    counts = np.zeros((len(langs), N_BUCKETS), dtype=np.float64)
    for lang, text in rows:
        counts[lid[lang]] += text_buckets(text)
    totals = counts.sum(axis=1, keepdims=True)
    log_w = np.log(counts + _SMOOTH) - np.log(totals + _SMOOTH * N_BUCKETS)
    model = CharNgramLangID(
        langs, log_w, np.full(len(langs), -np.log(len(langs)))
    )
    model.save(os.path.join(out_dir, "langid.npz"))


def train_all(
    out_dir: str = ARTIFACT_DIR,
    n_train_docs: int = 4000,
    seed: int = 4242,
):
    """Train every committed artifact. NER and relations use the
    reference's solvers: the structured-SVM segmenter, the OCA chunk
    classifier and one DCD detector per predicate (ner_trainer.cpp:224-405,
    binary_relation_detector_trainer.cpp:176-238).  The word-feature source
    is read from the committed ner_model.npz, so retrained models keep its
    fingerprint (and the feature space the chunk-feature golden pins)."""
    fs = NerModel.load(os.path.join(ARTIFACT_DIR, "ner_model.npz")).fs
    os.makedirs(out_dir, exist_ok=True)
    seg_sents, cls_examples, rel_examples = build_training_data(n_train_docs, seed)
    W_seg, T_seg = train_segmenter_svm(seg_sents, fs=fs)
    Ws, Wd, b = train_chunk_classifier_svm(
        cls_examples, n_classes=NOT_ENTITY + 1, fs=fs
    )
    ner = NerModel(W_seg, T_seg, Ws, Wd, b, TAGS, fs=fs)
    rel = train_relation_model(list(PREDS), rel_examples, fs=fs)
    ner.save(os.path.join(out_dir, "ner_model.npz"))
    rel.save(os.path.join(out_dir, "relation_model.npz"))
    cat = train_text_categorizer(build_categorizer_data(800, seed))
    cat.save(os.path.join(out_dir, "text_categorizer.npz"))
    train_langid(out_dir)
    cat_eval = build_categorizer_data(200, seed + 1)
    cat_acc = sum(1 for toks, y in cat_eval if cat(toks)[0] == y) / len(cat_eval)
    metrics = evaluate(ner, rel, n_docs=300, seed=999)
    metrics["categorizer_accuracy"] = round(cat_acc, 4)
    metrics["n_train_docs"] = n_train_docs
    metrics["n_rel_examples"] = len(rel_examples)
    return ner, rel, metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=ARTIFACT_DIR)
    ap.add_argument("--train-docs", type=int, default=4000)
    ap.add_argument("--seed", type=int, default=4242)
    args = ap.parse_args()
    t0 = time.perf_counter()
    _, _, metrics = train_all(args.out, args.train_docs, args.seed)
    metrics["wall_s"] = round(time.perf_counter() - t0, 1)
    print("METRICS " + json.dumps(metrics))


if __name__ == "__main__":
    main()
