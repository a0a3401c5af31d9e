"""Reference-shaped trainer surface (mitie.py:466-827 call shapes): build
training instances, train, predict, save/load round-trip."""

import random

import pytest


def _sentences(n, seed=5):
    from mitie_spark.corpus import make_sentence

    rng = random.Random(f"trainer-api:{seed}")
    return [make_sentence(rng) for _ in range(n)]


@pytest.fixture(scope="module")
def trained_ner():
    from mitie_spark.api import ner_trainer, ner_training_instance

    trainer = ner_trainer("ignored_feature_extractor_path")
    for toks, ments, _ in _sentences(250):
        inst = ner_training_instance(toks)
        for s, e, tag, _surf in ments:
            assert not inst.overlaps_any_entity(range(s, e))
            inst.add_entity(range(s, e), tag)
        trainer.add(inst)
    assert trainer.size == 250
    return trainer.train()


def test_ner_trainer_learns_planted_entities(trained_ner):
    hits = total = 0
    for toks, ments, _ in _sentences(40, seed=99):
        pred = {
            (r.start, r.stop, tag) for r, tag, _ in trained_ner.extract_entities(toks)
        }
        truth = {(s, e, tag) for s, e, tag, _ in ments}
        hits += len(pred & truth)
        total += len(truth)
    assert total > 0
    assert hits / total >= 0.9  # planted templates are learnable


def test_ner_trainer_save_load_round_trip(trained_ner, tmp_path):
    from mitie_spark.api import named_entity_extractor

    p = str(tmp_path / "custom_ner.npz")
    trained_ner.save_to_disk(p)
    again = named_entity_extractor(p)
    assert again.get_possible_ner_tags() == trained_ner.get_possible_ner_tags()
    toks = _sentences(1, seed=7)[0][0]
    assert [
        (r.start, r.stop, t) for r, t, _ in again.extract_entities(toks)
    ] == [(r.start, r.stop, t) for r, t, _ in trained_ner.extract_entities(toks)]


def test_relation_detector_trainer(trained_ner):
    from mitie_spark.api import binary_relation_detector_trainer

    trainer = binary_relation_detector_trainer("test.born_in", trained_ner)
    n_pos = 0
    for toks, ments, rels in _sentences(300, seed=11):
        by_idx = {i: (s, e) for i, (s, e, _, _) in enumerate(ments)}
        pos_pairs = {(si, oi) for si, p, oi in rels if p == "born_in"}
        for si, p, oi in rels:
            if p == "born_in":
                trainer.add_positive_binary_relation(
                    toks, range(*by_idx[si]), range(*by_idx[oi])
                )
                n_pos += 1
                # reversed order is a negative (directionality)
                trainer.add_negative_binary_relation(
                    toks, range(*by_idx[oi]), range(*by_idx[si])
                )
        for i in range(len(ments) - 1):
            if (i, i + 1) not in pos_pairs and (i + 1, i) not in pos_pairs:
                trainer.add_negative_binary_relation(
                    toks, range(*by_idx[i]), range(*by_idx[i + 1])
                )
    assert trainer.num_positive_examples == n_pos > 10
    det = trainer.train()
    assert det.name_string == "test.born_in"

    tp = fp = fn = 0
    for toks, ments, rels in _sentences(60, seed=12):
        by_idx = {i: (s, e) for i, (s, e, _, _) in enumerate(ments)}
        truth = {(si, oi) for si, p, oi in rels if p == "born_in"}
        for i in range(len(ments)):
            for j in range(len(ments)):
                if i == j or abs(i - j) > 1:
                    continue
                rel = trained_ner.extract_binary_relation(
                    toks, range(*by_idx[i]), range(*by_idx[j])
                )
                hit = det(rel) > 0
                if (i, j) in truth:
                    tp += hit
                    fn += not hit
                else:
                    fp += hit
    assert tp / max(tp + fn, 1) >= 0.85
    assert tp / max(tp + fp, 1) >= 0.85


def test_text_categorizer_trainer(tmp_path):
    from mitie_spark.api import text_categorizer, text_categorizer_trainer
    from mitie_spark.models.train import build_categorizer_data

    trainer = text_categorizer_trainer()
    for toks, label in build_categorizer_data(300, seed=21):
        trainer.add_labeled_text(toks, label)
    assert trainer.size == 300
    cat = trainer.train()
    held = build_categorizer_data(80, seed=22)
    acc = sum(1 for toks, y in held if cat(toks)[0] == y) / len(held)
    assert acc >= 0.8
    p = str(tmp_path / "cat.npz")
    cat.save_to_disk(p)
    again = text_categorizer(p)
    toks0 = held[0][0]
    assert again(toks0)[0] == cat(toks0)[0]


def test_trainer_hyperparameter_surface_affects_solver():
    """The reference solver's knobs (ner_trainer.cpp:498-572: C, eps,
    max-iter, loss-per-missed-segment; classifier C :360-405) exist on the
    facade and genuinely change the structured-SVM segmenter's weights."""
    import numpy as np

    from mitie_spark.api import ner_trainer
    from mitie_spark.models.svm_train import train_segmenter_svm

    t = ner_trainer("ignored")
    for knob, default in [
        ("C", 20.0), ("eps", 0.01), ("max_iterations", 2000),
        ("loss_per_missed_segment", 3.0), ("classifier_C", 300.0),
        ("beta", 0.5), ("num_threads", 4),
    ]:
        assert getattr(t, knob) == default
    assert not hasattr(t, "solver")

    sents = [
        ("Alice Smith visited Boston today".split(), [(0, 2), (3, 4)]),
        ("the market closed early".split(), []),
        ("Bob Jones met Alice Smith".split(), [(0, 2), (3, 5)]),
    ] * 3
    base = train_segmenter_svm(sents, max_iterations=4, eps=0.0)
    strong_reg = train_segmenter_svm(sents, max_iterations=4, eps=0.0, C=1.01)
    assert not np.allclose(base[0], strong_reg[0])  # C affects weights
    upweighted = train_segmenter_svm(
        sents, max_iterations=4, eps=0.0, loss_per_missed_segment=9.0
    )
    assert not np.allclose(base[0], upweighted[0])
    one_epoch = train_segmenter_svm(sents, max_iterations=1)
    assert not np.allclose(one_epoch[0], base[0])  # max_iterations caps epochs
    # the eps stop compares two epochs' objectives, so a huge eps stops
    # after the second epoch, before the max_iterations cap
    W, T, info = train_segmenter_svm(
        sents, max_iterations=6, eps=1e9, return_info=True
    )
    two = train_segmenter_svm(sents, max_iterations=2, eps=0.0)
    assert info["epochs_run"] == 2
    assert np.array_equal(W, two[0]) and np.array_equal(T, two[1])


def test_relation_trainer_auto_tune_cv(trained_ner, monkeypatch):
    """auto_tune runs the reference's 6-fold CV C search
    (binary_relation_detector_trainer.cpp:176-238) inside
    train_relation_model: deterministic, C lands inside the reference's
    [1/n, 1e5/n]·(5/6) bounds, no search when positives <= folds, and the
    tuned detector still separates the planted relation."""
    from mitie_spark.api import binary_relation_detector_trainer
    from mitie_spark.models import bobyqa, dcd
    from mitie_spark.models.relation_model import train_relation_model

    trainer = binary_relation_detector_trainer("test.born_in", trained_ner)
    examples = []
    for toks, ments, rels in _sentences(80, seed=21):
        by_idx = {i: (s, e) for i, (s, e, _, _) in enumerate(ments)}
        for si, p, oi in rels:
            if p == "born_in":
                trainer.add_positive_binary_relation(
                    toks, range(*by_idx[si]), range(*by_idx[oi])
                )
                trainer.add_negative_binary_relation(
                    toks, range(*by_idx[oi]), range(*by_idx[si])
                )
                examples.append((toks, by_idx[si], by_idx[oi], "test.born_in"))
                examples.append((toks, by_idx[oi], by_idx[si], None))
    assert trainer.num_positive_examples > 6

    chosen_C, searches = [], []
    brdt_train, find_max_bobyqa = dcd.brdt_train, bobyqa.find_max_bobyqa

    def rec_train(*a, **kw):
        out = brdt_train(*a, **kw)
        chosen_C.append(out[2])
        return out

    def rec_search(*a, **kw):
        searches.append(1)
        return find_max_bobyqa(*a, **kw)

    monkeypatch.setattr(dcd, "brdt_train", rec_train)
    monkeypatch.setattr(bobyqa, "find_max_bobyqa", rec_search)

    fs = trained_ner._model.fs
    m1 = train_relation_model(["test.born_in"], examples, fs=fs, auto_tune=True)
    assert searches
    m2 = train_relation_model(["test.born_in"], examples, fs=fs, auto_tune=True)
    assert chosen_C[0] == chosen_C[1]  # deterministic search
    assert (m1.W_sparse == m2.W_sparse).all() and (m1.b == m2.b).all()
    n = len(examples)
    for c in chosen_C[0]:
        assert (1.0 / n) * (5.0 / 6.0) <= c <= (100000.0 / n) * (5.0 / 6.0)

    # <= folds positives: the reference skips the search; so do we, and
    # C stays its untuned 5000/n·(5/6)
    del searches[:]
    train_relation_model(["test.born_in"], examples[:10], fs=fs, auto_tune=True)
    assert not searches
    assert chosen_C[-1] == pytest.approx((5000.0 / 10 * 5 / 6,) * 2)

    trainer.auto_tune = True
    det = trainer.train()
    scores = []
    for toks, a1, a2, pos in examples[:40]:
        rel = trained_ner.extract_binary_relation(
            toks, range(*a1), range(*a2)
        )
        scores.append((det(rel) > 0, pos is not None))
    acc = sum(int(p == t) for p, t in scores) / len(scores)
    assert acc >= 0.9


def test_ner_trainer_svm_solver_chunk_classifier():
    """ner_trainer trains the chunk classifier with the OCA multiclass
    port (the reference's exact flow) and learns the planted entities
    from 20 sentences.  Determinism and bit-parity of the solver live in
    tests/test_oca.py (goldens) and tests/test_cross_engine.py."""
    from mitie_spark.api import ner_trainer, ner_training_instance

    trainer = ner_trainer()
    for toks, ments, _ in _sentences(20, seed=11):
        inst = ner_training_instance(toks)
        for s, e, tag, _surf in ments:
            inst.add_entity(range(s, e), tag)
        trainer.add(inst)
    ner = trainer.train()

    hits = total = 0
    for toks, ments, _ in _sentences(25, seed=12):
        pred = {
            (r.start, r.stop, tag) for r, tag, _ in ner.extract_entities(toks)
        }
        want = {(s, e, tag) for s, e, tag, _ in ments}
        hits += len(pred & want)
        total += len(want)
    assert total and hits / total >= 0.85


def test_text_categorizer_trainer_svm_solver():
    """solver="svm" (BoW-only, no extractor) trains the reference's exact
    OCA flow and classifies held-out synthetic docs accurately."""
    from mitie_spark.api import text_categorizer_trainer
    from mitie_spark.models.train import build_categorizer_data

    trainer = text_categorizer_trainer()
    trainer.solver = "svm"
    for toks, label in build_categorizer_data(60, seed=31):
        trainer.add_labeled_text(toks, label)
    cat = trainer.train()
    held = build_categorizer_data(60, seed=32)
    acc = sum(1 for toks, y in held if cat(toks)[0] == y) / len(held)
    assert acc >= 0.8
