"""Reference-exact relation feature space + dlib .svm detector scoring
(models/relation_ref.py): a reference user's rel_classifier_*.svm files
must score identically through the facade pair-list path and the
distributed extract_kg path (binary_relation_detector.cpp:110-189)."""

import numpy as np
import pytest

from mitie_spark.models.relation_ref import (
    NUM_HASH_DIMS,
    DlibRelationModel,
    merge_sparse_pairs,
    reference_relation_pairs,
    reference_relation_sparse_feats,
    score_pairs,
)
from tests.test_dlib_models import _synthetic_fe, _with_crc

TOKENS = "Ben Franklin did visit the city of Boston last winter .".split()
ARG1 = (0, 2)  # Ben Franklin
ARG2 = (7, 8)  # Boston


def _fs():
    from mitie_spark.sources.dlib_models import DlibTotalWordFeatureExtractor

    return DlibTotalWordFeatureExtractor(_with_crc(_synthetic_fe()))


def _toy_detectors(d, rng):
    """Synthetic linear-kernel decision functions over the reference dims
    (2d dense + 100000 hashed)."""
    n_dims = 2 * d + NUM_HASH_DIMS
    dets = []
    for name in ["people.person.place_of_birth", "location.location.contains"]:
        basis = []
        for _ in range(3):
            idx = rng.choice(n_dims, size=40, replace=False)
            basis.append(
                [(int(i), float(v)) for i, v in zip(np.sort(idx), rng.standard_normal(40))]
            )
        dets.append(
            {
                "relation_type": name,
                "fingerprint": 1234567890123456789,  # matches _synthetic_fe
                "alpha": rng.standard_normal(3),
                "b": float(rng.standard_normal()),
                "basis_vectors": basis,
            }
        )
    return dets


def test_sparse_feats_structure():
    """Window/seed semantics of binary_relation_detector.cpp:142-185."""
    i1, v1 = reference_relation_sparse_feats(TOKENS, ARG1, ARG2)
    assert np.all((i1 >= 0) & (i1 < NUM_HASH_DIMS))
    assert set(np.unique(v1)) <= {-1.0, 1.0}
    # deterministic
    i1b, v1b = reference_relation_sparse_feats(TOKENS, ARG1, ARG2)
    assert np.array_equal(i1, i1b) and np.array_equal(v1, v1b)
    # swapped argument order uses the offset seed family (cpp:151-157):
    # same windows, different hashes
    i2, _ = reference_relation_sparse_feats(TOKENS, ARG2, ARG1)
    assert len(i2) == len(i1)
    assert not np.array_equal(np.sort(i1), np.sort(i2))
    # args at the sentence boundary clip their context windows (no crash,
    # fewer window tokens → fewer n-gram feats)
    i3, _ = reference_relation_sparse_feats(TOKENS, (0, 1), (len(TOKENS) - 1, len(TOKENS)))
    assert len(i3) > 0
    # adjacent args → empty between-window
    i4, _ = reference_relation_sparse_feats(TOKENS, (0, 2), (2, 3))
    assert len(i4) > 0


def test_merge_sparse_pairs():
    assert merge_sparse_pairs([(5, 1.0), (2, -1.0), (5, 1.0), (2, 1.0)]) == [
        (2, 0.0),
        (5, 2.0),
    ]


def test_reference_pairs_layout():
    """Dense means occupy 0..2d-1 exactly as cpp:121-140; n-grams sit at
    offset 2d; duplicates are merged."""
    fs = _fs()
    d = fs.dims
    X = np.stack([fs.token_features(t) for t in TOKENS])
    pairs = reference_relation_pairs(TOKENS, X, ARG1, ARG2)
    idxs = [i for i, _ in pairs]
    assert idxs == sorted(idxs) and len(set(idxs)) == len(idxs)
    dense = {i: v for i, v in pairs if i < 2 * d}
    m1 = X[ARG1[0] : ARG1[1]].astype(np.float32).mean(axis=0, dtype=np.float32)
    m2 = X[ARG2[0] : ARG2[1]].astype(np.float32).mean(axis=0, dtype=np.float32)
    for j in range(d):
        assert dense.get(j, 0.0) == pytest.approx(float(m1[j]))
        assert dense.get(d + j, 0.0) == pytest.approx(float(m2[j]))
    assert max(idxs) < 2 * d + NUM_HASH_DIMS


def test_dlib_relation_model_matches_pair_scoring(tmp_path):
    """The distributed scorer (split dense/sparse layout through the shared
    segment-reduce) and the facade pair-list scorer are independent code
    paths over the same .svm weights — they must agree."""
    from mitie_spark.sources.dlib_models import (
        relation_weights_from_detector,
        write_binary_relation_detector,
    )

    rng = np.random.default_rng(53)
    fs = _fs()
    d = fs.dims
    dets = _toy_detectors(d, rng)
    paths = []
    for k, det in enumerate(dets):
        p = str(tmp_path / f"rel_classifier_{k}.svm")
        write_binary_relation_detector(p, det)
        paths.append(p)

    model = DlibRelationModel.from_svm_files(paths, dims=d)
    assert model.fingerprint == 1234567890123456789
    assert sorted(model.preds) == sorted(
        ["people.person.place_of_birth", "location.location.contains"]
    )
    X = np.stack([fs.token_features(t) for t in TOKENS])
    for a1, a2 in [(ARG1, ARG2), (ARG2, ARG1), ((4, 5), (0, 2))]:
        got = model.scores(TOKENS, X, a1, a2)
        pairs = reference_relation_pairs(TOKENS, X, a1, a2)
        n_dims = 2 * d + NUM_HASH_DIMS
        for k, name in enumerate(model.preds):
            det = next(dd for dd in dets if dd["relation_type"] == name)
            w, b = relation_weights_from_detector(det, n_dims)
            assert got[k] == pytest.approx(score_pairs(w, b, pairs), rel=1e-9)
    # a batch of N equals N batches of one
    mc = {}
    items = [(TOKENS, X, ARG1, ARG2, mc), (TOKENS, X, ARG2, ARG1, mc)]
    assert model.detect_batch(items) == [
        model.detect_batch([it])[0] for it in items
    ]
    # pooling detectors trained against different extractors is rejected
    bad = dict(dets[0])
    bad["fingerprint"] = 99
    p_bad = str(tmp_path / "rel_bad.svm")
    write_binary_relation_detector(p_bad, bad)
    with pytest.raises(ValueError, match="different word-feature"):
        DlibRelationModel.from_svm_files([paths[0], p_bad], dims=d)


def test_facade_svm_detector_roundtrip(tmp_path):
    """Full drop-in flow: dlib NER .dat + rel_classifier .svm through the
    binding facade — extract_entities, extract_binary_relation, detector
    __call__ — with the cross-space and fingerprint guards."""
    from mitie_spark import api
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import N_STATES, NerModel
    from mitie_spark.sources.dlib_models import (
        DlibTotalWordFeatureExtractor,
        ner_model_to_dlib,
        write_binary_relation_detector,
        write_named_entity_extractor,
    )

    rng = np.random.default_rng(59)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    K = 3
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=np.zeros((K, MAX_FEAT)),
        W_cls_dense=rng.standard_normal((K, 5 * d)),
        b_cls=rng.standard_normal(K),
        tags=["PERSON", "LOCATION"],
        fs=fs,
    )
    p_ner = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p_ner, ner_model_to_dlib(model))
    dets = _toy_detectors(d, rng)
    p_svm = str(tmp_path / "rel_classifier_0.svm")
    write_binary_relation_detector(p_svm, dets[0])

    ner = api.named_entity_extractor(p_ner)
    det = api.binary_relation_detector(p_svm)
    assert det.name_string == "people.person.place_of_birth"
    rel = ner.extract_binary_relation(TOKENS, range(*ARG1), range(*ARG2))
    assert rel.space == "reference"
    score = det(rel)
    # independent expectation via the model-layer scorer
    dm = DlibRelationModel.from_svm_files([p_svm], dims=d)
    X = np.stack([fs.token_features(t) for t in TOKENS])
    assert score == pytest.approx(float(dm.scores(TOKENS, X, ARG1, ARG2)[0]), rel=1e-9)
    # a native-space relation is rejected by the .svm detector
    rel_native = api.binary_relation(rel.features, rel.fingerprint, space="native")
    with pytest.raises(ValueError, match="reference-space"):
        det(rel_native)
    # fingerprint guard
    rel_badfp = api.binary_relation(rel.features, 7, space="reference")
    with pytest.raises(ValueError, match="different word-feature"):
        det(rel_badfp)


def test_extract_kg_accepts_dlib_artifacts(tmp_path, spark):
    """The distributed extraction operator runs straight off a reference
    user's ner_model.dat + a directory of rel_classifier_*.svm files."""
    import pandas as pd

    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import NerModel
    from mitie_spark.models.svm_train import train_segmenter_svm
    from mitie_spark.operators.extraction import extract_kg
    from mitie_spark.sources.dlib_models import (
        DlibTotalWordFeatureExtractor,
        ner_model_to_dlib,
        write_binary_relation_detector,
        write_named_entity_extractor,
    )

    rng = np.random.default_rng(61)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    # train a tiny NER on planted truth so extraction finds real mentions
    sents = [
        ("Alice visited Bob .".split(), [(0, 1), (2, 3)]),
        ("Bob visited Alice .".split(), [(0, 1), (2, 3)]),
        ("the . visited the".split(), []),
    ] * 5
    W_seg, T_seg = train_segmenter_svm(sents, fs=fs)
    # constant chunk classifier: every segmented chunk is a PERSON (class 0
    # strictly beats the not-entity class)
    model = NerModel(
        W_seg=W_seg,
        T_seg=T_seg,
        W_cls_sparse=np.zeros((2, MAX_FEAT)),
        W_cls_dense=np.zeros((2, 5 * d)),
        b_cls=np.array([1.0, 0.0]),
        tags=["PERSON"],
        fs=fs,
    )
    p_ner = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p_ner, ner_model_to_dlib(model))
    svm_dir = tmp_path / "svms"
    svm_dir.mkdir()
    for k, det in enumerate(_toy_detectors(d, rng)):
        write_binary_relation_detector(
            str(svm_dir / f"rel_classifier_{k}.svm"), det
        )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["d1", "d2"],
                "text": ["Alice visited Bob .", "Bob visited Alice ."],
            }
        )
    )
    kg = extract_kg(df, str(p_ner), str(svm_dir)).collect()
    assert len(kg) == 2
    ments = {(m["tag"]) for row in kg for m in row["mentions"]}
    assert ments <= {"PERSON"}
    assert sum(len(row["mentions"]) for row in kg) == 4
