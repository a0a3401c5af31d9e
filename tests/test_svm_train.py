"""Structured-SVM segmenter solver (models/svm_train.py).

Reference semantics under test: dlib structural_sequence_segmentation_
trainer via ner_trainer.cpp:498-572 — margin-rescaled per-token loss keyed
by the GOLD label (structural_svm_sequence_labeling_problem.h:232-240),
loss_values = loss_per_missed_segment on in-segment labels / 1 on OUTSIDE
(structural_sequence_segmentation_trainer.h:158-170), objective
0.5||w||² + (C/N)Σξ, and the BOBYQA/CV tuning loops (compute_fscore per
ner_trainer.cpp:311-327, the one copy in models/oca.py)."""

import numpy as np
import pytest

from mitie_spark.models.ner_model import (
    B,
    I,
    L,
    O,
    U,
    N_STATES,
    chunks_to_labels,
)
from mitie_spark.models.oca import compute_fscore
from mitie_spark.models.svm_train import (
    _augmented_emissions,
    cross_validate_segmenter,
    evaluate_segmenter,
    loss_values,
    train_segmenter_svm,
    train_segmenter_svm_spark,
    tune_segmenter_params,
)

# toy corpus: capitalized runs are segments (separable under the default
# hashed+shape features — shape flag 0 is is-capitalized)
NAMES = ["Alice", "Bob", "Carol", "Dave", "Eve", "Frank"]
FILL = ["met", "the", "and", "then", "saw", "a", "dog", "near", "town"]


def _toy_sentences(n=24, seed=7):
    rng = np.random.default_rng(seed)
    sents = []
    for _ in range(n):
        toks, chunks = [], []
        for _ in range(rng.integers(2, 5)):
            toks.extend(rng.choice(FILL, size=int(rng.integers(1, 4))))
            s = len(toks)
            toks.extend(rng.choice(NAMES, size=int(rng.integers(1, 3))))
            chunks.append((s, len(toks)))
        toks.extend(rng.choice(FILL, size=2))
        sents.append(([str(t) for t in toks], chunks))
    return sents


def test_loss_values_reference_assignment():
    lv = loss_values(use_bio=False, loss_per_missed_segment=3.0)
    assert lv[O] == 1.0
    for s in (B, I, L, U):
        assert lv[s] == 3.0
    lv_bio = loss_values(use_bio=True, loss_per_missed_segment=2.5)
    assert lv_bio[O] == 1.0 and len(lv_bio) == 3


def test_augmented_emissions_margin_rescaling():
    # loss added to every NON-gold state, amount keyed by the gold label
    em = np.zeros((3, N_STATES))
    gold = chunks_to_labels(3, [(1, 2)])  # O, U, O
    lv = loss_values(False, 3.0)
    aug = _augmented_emissions(em, gold, lv)
    # t=0 gold=O: all states but O get +1
    assert aug[0, O] == 0.0 and all(aug[0, s] == 1.0 for s in (B, I, L, U))
    # t=1 gold=U: all states but U get +3
    assert aug[1, U] == 0.0 and all(aug[1, s] == 3.0 for s in (O, B, I, L))


def test_svm_trains_to_perfect_segmentation():
    sents = _toy_sentences()
    W, T, info = train_segmenter_svm(
        sents, max_iterations=120, return_info=True
    )
    p, r, f1 = evaluate_segmenter(W, T, sents)
    assert p == 1.0 and r == 1.0 and f1 == 1.0
    assert info["epochs_run"] <= 120
    assert info["objective"] > 0.0


def test_svm_bio_variant():
    sents = _toy_sentences(n=16)
    W, T = train_segmenter_svm(sents, max_iterations=120, use_bio=True)
    p, r, _ = evaluate_segmenter(W, T, sents, use_bio=True)
    assert p == 1.0 and r == 1.0


def test_eps_controls_early_stop():
    sents = _toy_sentences(n=12)
    _, _, loose = train_segmenter_svm(
        sents, eps=0.5, max_iterations=200, return_info=True
    )
    _, _, tight = train_segmenter_svm(
        sents, eps=1e-6, max_iterations=200, return_info=True
    )
    assert loose["epochs_run"] < tight["epochs_run"]


def test_C_is_the_regularization_knob():
    # small C → heavy regularization → tiny weights; big C fits harder
    sents = _toy_sentences(n=12)
    W_lo, T_lo = train_segmenter_svm(sents, C=0.001, max_iterations=30)
    W_hi, T_hi = train_segmenter_svm(sents, C=100.0, max_iterations=30)
    assert np.linalg.norm(W_lo) < np.linalg.norm(W_hi)


def test_loss_per_missed_segment_shifts_toward_recall():
    # with a huge in-segment loss, training drives missed-segment errors to
    # zero before false-alarm errors: recall >= precision ordering holds on
    # an under-trained model
    sents = _toy_sentences(n=18)
    W, T = train_segmenter_svm(
        sents, loss_per_missed_segment=10.0, max_iterations=3
    )
    _, r_hi, _ = evaluate_segmenter(W, T, sents)
    W2, T2 = train_segmenter_svm(
        sents, loss_per_missed_segment=1.0, max_iterations=3
    )
    _, r_lo, _ = evaluate_segmenter(W2, T2, sents)
    assert r_hi >= r_lo


def test_distributed_solver_matches_semantics(spark):
    sents = _toy_sentences(n=16)
    W, T = train_segmenter_svm_spark(
        spark, sents, rounds=40, n_partitions=4
    )
    p, r, f1 = evaluate_segmenter(W, T, sents)
    assert p == 1.0 and r == 1.0


def test_cross_validate_and_tuning_bounds():
    sents = _toy_sentences(n=16)
    p, r, f1 = cross_validate_segmenter(
        sents, folds=2, max_iterations=40
    )
    assert 0.0 <= p <= 1.0 and 0.0 <= r <= 1.0
    C, loss, rec = tune_segmenter_params(
        sents, folds=2, max_evals=30, max_iterations=20
    )
    assert 0.1 <= C <= 100.0
    assert 1.0 <= loss <= 10.0
    assert rec >= 0.5  # separable toy data: tuned model must segment well
    # BOBYQA is deterministic: same data, same trajectory, same winner
    C2, loss2, rec2 = tune_segmenter_params(
        sents, folds=2, max_evals=30, max_iterations=20
    )
    assert (C, loss, rec) == (C2, loss2, rec2)


def test_compute_fscore_reference_semantics():
    # 2 entity labels + not-entity (id 2). res[truth, pred].
    res = np.array(
        [
            [8, 1, 1],  # label0: 8 right, 1 as label1, 1 missed
            [0, 9, 1],  # label1
            [2, 0, 18],  # not-entity: 2 false alarms as label0
        ],
        dtype=float,
    )
    correct = 17.0
    total_pred = 8 + 1 + 0 + 9 + 2 + 0  # all predictions INTO entity cols
    total_truth = 20.0
    precision = correct / total_pred
    recall = correct / total_truth
    beta = 0.5
    expect = (1 + beta**2) * precision * recall / (beta**2 * precision + recall)
    assert compute_fscore(res, num_labels=2, beta=beta) == pytest.approx(expect)


def test_api_svm_solver_end_to_end():
    from mitie_spark import api

    trainer = api.ner_trainer()
    trainer.max_iterations = 120
    rng = np.random.default_rng(11)
    for _ in range(14):
        toks = [str(t) for t in rng.choice(FILL, size=5).tolist()]
        name = str(rng.choice(NAMES))
        toks = toks[:2] + [name] + toks[2:]
        inst = api.ner_training_instance(toks)
        inst.add_entity(range(2, 3), "person")
        trainer.add(inst)
    ner = trainer.train()
    toks = ["the", "dog", "saw", "Alice", "near", "town"]
    ents = ner.extract_entities(toks)
    assert any(set(r) == {3} and tag == "person" for r, tag, _ in ents)
