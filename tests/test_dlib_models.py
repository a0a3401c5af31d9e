"""dlib binary model (de)serialization tests (S5 — the reference's users
arrive with .dat/.svm artifacts; sources/dlib_models.py loads them without
the C++ library). The reference's binaries are not vendored, so round-trips
go through our byte-compatible writer."""

import math
import os

import numpy as np
import pytest

from mitie_spark.functions.morphology import ApproximateSubstringSet
from mitie_spark.sources.dlib_models import (
    DlibReader,
    DlibTotalWordFeatureExtractor,
    DlibWriter,
    ner_model_from_dlib,
    ner_model_to_dlib,
    read_binary_relation_detector,
    read_named_entity_extractor,
    read_total_word_feature_extractor,
    relation_weights_from_detector,
    write_binary_relation_detector,
    write_named_entity_extractor,
    write_total_word_feature_extractor,
)


def test_primitive_roundtrip():
    w = DlibWriter()
    floats = [0.0, 1.5, -1.5, 0.1, 1e-300, -2.5e18, math.inf, -math.inf, 1e38]
    for v in floats:
        w.f(v)
    w.f(math.nan)
    ints = [0, 1, -1, 255, 256, -65536, 2**62, -(2**62)]
    for v in ints:
        w.s(v)
    w.u(2**63)
    w.string("héllo wörld")
    w.boolean(True)
    w.boolean(False)
    M = np.array([[1.25, -3.5], [0.0, 7e-3]])
    w.matrix(M)
    r = DlibReader(w.getvalue())
    for v in floats:
        assert r.f() == v
    assert math.isnan(r.f())
    for v in ints:
        assert r.s() == v
    assert r.u() == 2**63
    assert r.string() == "héllo wörld"
    assert r.boolean() is True
    assert r.boolean() is False
    assert np.array_equal(r.matrix(), M)


def _synthetic_fe(seed=5, non_morph=5, morph_dim=3):
    rng = np.random.default_rng(seed)
    words = ["Alice", "Bob", "the", "visited", "."]
    sset = ApproximateSubstringSet()
    for s in ["*Al", "ce*", "Bo", "*th", "ed*", "isi"]:
        sset.add_substring(s)
    dims = non_morph + morph_dim
    return {
        "fingerprint": 1234567890123456789,
        "non_morph_feats": non_morph,
        "words": words,
        "vectors": rng.standard_normal((len(words), dims)).astype(np.float32),
        "morph": {
            "substrings": {
                "mask": 0x1FFF,
                "mask_bits": 13,
                "init_hash": 0xFFFFFFFF,
                "max_substr_len": sset.max_substr_len,
                "hash_table": sset.hash_table,
                "crc_table": np.zeros(0, np.uint32),  # filled below
            },
            "morph_trans": rng.standard_normal((0x1FFF + 1, morph_dim)).astype(
                np.float32
            ),
        },
    }


def _with_crc(fe):
    from mitie_spark.functions import morphology as _morph

    fe["morph"]["substrings"]["crc_table"] = _morph._CRC
    return fe


def test_total_word_feature_extractor_roundtrip(tmp_path):
    fe = _with_crc(_synthetic_fe())
    p = str(tmp_path / "twfe.dat")
    write_total_word_feature_extractor(p, fe)
    got = read_total_word_feature_extractor(p)
    assert got["fingerprint"] == fe["fingerprint"]
    assert got["non_morph_feats"] == fe["non_morph_feats"]
    assert sorted(got["words"]) == sorted(fe["words"])
    # map order is sorted; realign and compare vectors exactly
    idx = {w: i for i, w in enumerate(fe["words"])}
    for w_, v in zip(got["words"], got["vectors"]):
        assert np.array_equal(v, fe["vectors"][idx[w_]])
    assert np.array_equal(
        got["morph"]["morph_trans"], fe["morph"]["morph_trans"]
    )
    assert np.array_equal(
        got["morph"]["substrings"]["hash_table"],
        fe["morph"]["substrings"]["hash_table"],
    )
    src = DlibTotalWordFeatureExtractor(got)
    # dictionary hit returns the stored vector
    assert np.array_equal(src.token_features("Alice"), fe["vectors"][0])
    # digit folding happens before the probe (convert_numbers)
    v12 = src.token_features("a12b")
    assert np.array_equal(v12, src.token_features("a90b"))
    # OOV: flag at 0, zeros, morph tail
    oov = src.token_features("Zzz")
    assert oov[0] == 1.0
    assert np.all(oov[1 : src.non_morph_feats] == 0)


def test_ner_model_dlib_roundtrip(tmp_path):
    from mitie_spark.functions.hashing import MAX_FEAT

    rng = np.random.default_rng(7)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    from mitie_spark.models.ner_model import N_STATES, NerModel

    K = 3  # 2 real tags + not-entity
    W_cls = np.zeros((K, MAX_FEAT))
    cols = rng.integers(0, MAX_FEAT, 400)
    W_cls[:, cols] = rng.standard_normal((K, 400))
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=W_cls,
        W_cls_dense=rng.standard_normal((K, 5 * d)),
        b_cls=rng.standard_normal(K),
        tags=["PERSON", "LOCATION"],
        fs=fs,
    )
    p = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p, ner_model_to_dlib(model))
    raw = read_named_entity_extractor(p)
    assert raw["tags"] == ["PERSON", "LOCATION"]
    got = ner_model_from_dlib(p)
    # float_details round-trips doubles exactly → bit-equal weights
    assert np.array_equal(got.W_seg, model.W_seg)
    assert np.array_equal(got.T_seg, model.T_seg)
    assert np.array_equal(got.W_cls_sparse, model.W_cls_sparse)
    assert np.array_equal(got.W_cls_dense, model.W_cls_dense)
    assert np.array_equal(got.b_cls, model.b_cls)
    assert got.fs.fingerprint == fs.fingerprint
    # end-to-end behavior identical (segmentation + classification + scores)
    for text in [
        "Alice visited Bob .",
        "the visited Alice",
        "Bob Bob Bob",
        "Zzz unseen w0rds",
    ]:
        toks = text.split()
        assert got.extract_entities(toks) == model.extract_entities(toks)
    # npz save/load preserves the dlib feature source
    pz = str(tmp_path / "ner.npz")
    got.save(pz)
    again = NerModel.load(pz)
    assert again.fs.kind == "dlib"
    assert again.fs.fingerprint == fs.fingerprint
    toks = "Alice visited Bob .".split()
    assert again.extract_entities(toks) == model.extract_entities(toks)


def test_ner_model_from_dlib_validates_layout(tmp_path):
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    from mitie_spark.models.ner_model import NerModel

    model = NerModel(tags=["PERSON", "LOCATION", "ORGANIZATION"], fs=fs)
    blob = ner_model_to_dlib(model)
    blob["segmenter"]["use_high_order_features"] = True
    p = str(tmp_path / "high_order.dat")
    write_named_entity_extractor(p, blob)
    with pytest.raises(NotImplementedError):
        ner_model_from_dlib(p)


def test_ner_model_dlib_bio_roundtrip(tmp_path):
    """The use_BIO_model=true configuration (3-label segmenter) loads and
    round-trips; MITIE ships BILOU but the reference supports both."""
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import NerModel

    rng = np.random.default_rng(11)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    K = 2
    model = NerModel(
        W_seg=rng.standard_normal((3, 3 * d + 1)),
        T_seg=rng.standard_normal((3, 3)),
        W_cls_sparse=np.zeros((K, MAX_FEAT)),
        W_cls_dense=rng.standard_normal((K, 5 * d)),
        b_cls=rng.standard_normal(K),
        tags=["PERSON"],
        fs=fs,
        use_bio=True,
    )
    p = str(tmp_path / "ner_bio.dat")
    write_named_entity_extractor(p, ner_model_to_dlib(model))
    got = ner_model_from_dlib(p)
    assert got.use_bio is True
    assert np.array_equal(got.W_seg, model.W_seg)
    assert np.array_equal(got.T_seg, model.T_seg)
    for text in ["Alice visited Bob .", "Bob Bob", "the the the"]:
        toks = text.split()
        assert got.extract_entities(toks) == model.extract_entities(toks)


def test_bio_segmenter_trains_and_decodes():
    """BIO training path: the 3-state segmenter learns planted chunks and
    the BIO decode (B consumes following I's) recovers them."""
    from mitie_spark.models.ner_model import (
        NerModel,
        chunks_to_labels_bio,
        labels_to_chunks_bio,
    )
    from mitie_spark.models.svm_train import train_segmenter_svm

    assert labels_to_chunks_bio(chunks_to_labels_bio(6, [(1, 3), (4, 5)])) == [
        (1, 3),
        (4, 5),
    ]
    sents = [
        ("Alice Smith visited Boston today".split(), [(0, 2), (3, 4)]),
        ("the market closed early".split(), []),
        ("Bob Jones met Alice Smith".split(), [(0, 2), (3, 5)]),
    ] * 4
    W, T = train_segmenter_svm(sents, use_bio=True)
    model = NerModel(W_seg=W, T_seg=T, use_bio=True)
    for toks, chunks in sents[:3]:
        assert model.segment_batch([model.X(toks)]) == [chunks]


# a toy rel_classifier_*.svm detector, trained against word-feature
# extractor fingerprint 987654321
TOY_DETECTOR = {
    "relation_type": "location.location.contains",
    "fingerprint": 987654321,
    "alpha": np.array([2.0, -0.5]),
    "b": 1.25,
    "basis_vectors": [
        [(3, 1.5), (10, -1.5)],
        [(3, 0.5), (99, 2.0)],
    ],
}


def test_binary_relation_detector_roundtrip(tmp_path):
    from mitie_spark.models.relation_ref import DlibRelationModel

    det = TOY_DETECTOR
    p = str(tmp_path / "rel.svm")
    write_binary_relation_detector(p, det)
    got = read_binary_relation_detector(p)
    assert got["relation_type"] == det["relation_type"]
    assert got["fingerprint"] == det["fingerprint"]
    assert np.array_equal(got["alpha"], det["alpha"])
    assert got["b"] == det["b"]
    assert got["basis_vectors"] == det["basis_vectors"]
    # collapse to a single weight vector: w = Σ alpha_i · basis_i
    w, b = relation_weights_from_detector(got, 100)
    assert b == 1.25
    assert w[3] == 2.0 * 1.5 + (-0.5) * 0.5
    assert w[10] == 2.0 * -1.5
    assert w[99] == -0.5 * 2.0
    rm = DlibRelationModel.from_svm_files([p], dims=0)
    assert rm.preds == ["location.location.contains"]


def test_load_models_rejects_relation_fingerprint_mismatch(tmp_path):
    """_load_models' predict-time guard (binary_relation_detector.h:70-77):
    a .svm detector trained against another word-feature extractor than
    the NER model's is refused before any extraction runs."""
    from mitie_spark.models.train import ARTIFACT_DIR
    from mitie_spark.operators.extraction import _load_models

    p = str(tmp_path / "rel.svm")
    write_binary_relation_detector(p, TOY_DETECTOR)
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        _load_models(os.path.join(ARTIFACT_DIR, "ner_model.npz"), p)


def test_high_bit_fingerprint_save_roundtrip(tmp_path):
    """~half of real MITIE murmur fingerprints have the u64 high bit set;
    save() must not overflow an int64 array (the convert-ner CLI path)."""
    import numpy as np

    from mitie_spark.models.relation_model import RelationModel

    fp = 2**63 + 12345
    m = RelationModel(
        preds=["p"],
        W_sparse=np.zeros((1, 8)),
        W_dense=np.zeros((1, 4)),
        b=np.zeros(1),
        fingerprint=fp,
    )
    p = str(tmp_path / "rel_u64.npz")
    m.save(p)
    assert RelationModel.load(p).fingerprint == fp


def test_ner_model_npz_save_with_high_bit_dlib_fingerprint(tmp_path):
    """NerModel.save must handle a dlib fingerprint above int64 range: the
    fingerprint entry is built eagerly in the arrays dict, so it must be
    uint64 from the start (a later dlib-branch override comes too late)."""
    from mitie_spark.models.ner_model import NerModel

    fe = _synthetic_fe()
    fe["fingerprint"] = 2**63 + 424242  # high bit set
    fs = DlibTotalWordFeatureExtractor(_with_crc(fe))
    m = NerModel(fs=fs)
    p = str(tmp_path / "ner_u64.npz")
    m.save(p)
    got = NerModel.load(p)
    assert got.fs.fingerprint == 2**63 + 424242


def test_api_facade_loads_dlib_binaries(tmp_path):
    """A reference user's .dat files load directly through the binding
    facade: api.named_entity_extractor / api.total_word_feature_extractor
    detect dlib binaries vs .npz by magic and route to sources/dlib_models
    (mitie.py:250-269,844-866 load paths)."""
    from mitie_spark import api
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import N_STATES, NerModel

    fe = _with_crc(_synthetic_fe())
    p_fe = str(tmp_path / "total_word_feature_extractor.dat")
    write_total_word_feature_extractor(p_fe, fe)

    twfe = api.total_word_feature_extractor(p_fe)
    assert twfe.fingerprint == fe["fingerprint"]
    assert twfe.num_words_in_dictionary == len(fe["words"])
    src = DlibTotalWordFeatureExtractor(fe)
    assert twfe.num_dimensions == src.dims
    # dictionary hit (Alice sorts first in the serialized map)
    assert np.array_equal(twfe.get_feature_vector("Alice"), src.token_features("Alice"))
    # the reference folds digits before the probe (convert_numbers)
    assert np.array_equal(
        twfe.get_feature_vector("a12b"), twfe.get_feature_vector("a90b")
    )

    # a dlib NER over the same extractor, loaded through the facade
    rng = np.random.default_rng(11)
    d = src.dims
    K = 3
    W_cls = np.zeros((K, MAX_FEAT))
    cols = rng.integers(0, MAX_FEAT, 400)
    W_cls[:, cols] = rng.standard_normal((K, 400))
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=W_cls,
        W_cls_dense=rng.standard_normal((K, 5 * d)),
        b_cls=rng.standard_normal(K),
        tags=["PERSON", "LOCATION"],
        fs=src,
    )
    p_ner = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p_ner, ner_model_to_dlib(model))

    ner = api.named_entity_extractor(p_ner)
    assert ner.get_possible_ner_tags() == ["PERSON", "LOCATION"]
    tokens = ["Alice", "visited", "Bob", "."]
    # the facade path scores identically to the directly-loaded model
    assert ner.extract_entities(tokens) == [
        (range(s, e), t, sc)
        for s, e, t, sc in ner_model_from_dlib(p_ner).extract_entities(tokens)
    ]
    # matching extractor passes the fingerprint guard; mismatched raises
    ner.extract_entities(tokens, feature_extractor=twfe)
    fe_bad = _with_crc(_synthetic_fe())
    fe_bad["fingerprint"] = 42
    p_bad = str(tmp_path / "twfe_bad.dat")
    write_total_word_feature_extractor(p_bad, fe_bad)
    with pytest.raises(ValueError, match="fingerprint"):
        ner.extract_entities(
            tokens, feature_extractor=api.total_word_feature_extractor(p_bad)
        )


def test_ner_pure_model_roundtrip(tmp_path):
    """Pure-model NER files (df + segmenter only, extractor shipped
    separately — named_entity_extractor.cpp:36-83; mitie.cpp:1080-1100)
    round-trip and load to the same model as the full binary."""
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import N_STATES, NerModel
    from mitie_spark.sources.dlib_models import (
        compute_ner_fingerprint,
        read_ner_pure_model,
        write_ner_pure_model,
    )

    rng = np.random.default_rng(23)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    K = 3
    W_cls = np.zeros((K, MAX_FEAT))
    cols = rng.integers(0, MAX_FEAT, 300)
    W_cls[:, cols] = rng.standard_normal((K, 300))
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=W_cls,
        W_cls_dense=rng.standard_normal((K, 5 * d)),
        b_cls=rng.standard_normal(K),
        tags=["PERSON", "LOCATION"],
        fs=fs,
    )
    blob = ner_model_to_dlib(model)
    blob["tfe_fingerprint"] = fe["fingerprint"]
    p_pure = str(tmp_path / "ner_pure_model.dat")
    p_fe = str(tmp_path / "twfe.dat")
    write_ner_pure_model(p_pure, blob)
    write_total_word_feature_extractor(p_fe, fe)

    pm = read_ner_pure_model(p_pure)
    assert pm["tags"] == ["PERSON", "LOCATION"]
    assert pm["tfe_fingerprint"] == fe["fingerprint"]
    got = ner_model_from_dlib(p_pure, fe_path=p_fe)
    assert np.array_equal(got.W_seg, model.W_seg)
    assert np.array_equal(got.W_cls_sparse, model.W_cls_sparse)
    toks = "Alice visited Bob .".split()
    assert got.extract_entities(toks) == model.extract_entities(toks)
    # the reconstructed model fingerprint is the reference's murmur3 chain
    assert compute_ner_fingerprint(
        pm["tags"], pm["tfe_fingerprint"], pm["segmenter"], pm["df"]
    ) == ner_model_to_dlib(model)["fingerprint"]
    # pure model without the extractor blob is unusable (cpp ctor requires)
    with pytest.raises(ValueError, match="fe_filename"):
        ner_model_from_dlib(p_pure)
    # mismatched extractor fingerprint is rejected (cpp:74-80)
    fe_bad = _with_crc(_synthetic_fe())
    fe_bad["fingerprint"] = 7
    p_bad = str(tmp_path / "twfe_bad.dat")
    write_total_word_feature_extractor(p_bad, fe_bad)
    with pytest.raises(ValueError, match="[Ff]ingerprint"):
        ner_model_from_dlib(p_pure, fe_path=p_bad)
    # facade: pure model + fe_filename (mitie.py:251-269 pure path)
    from mitie_spark import api

    ner_api = api.named_entity_extractor(p_pure, fe_filename=p_fe)
    assert ner_api.get_possible_ner_tags() == ["PERSON", "LOCATION"]


def test_text_categorizer_dlib_roundtrip(tmp_path):
    """mitie::text_categorizer full-model round-trip + scoring port checked
    against an independently-built dense feature vector
    (text_feature_extraction.cpp:11-73; dlib function.h:781-813)."""
    from mitie_spark.functions.hashing import MAX_FEAT, make_feat, shash
    from mitie_spark.functions.stemmer import stem_word
    from mitie_spark.sources.dlib_models import (
        DlibTextCategorizer,
        compute_text_categorizer_fingerprint,
        read_text_categorizer,
        write_text_categorizer,
    )

    rng = np.random.default_rng(31)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    K = 2
    ncols = MAX_FEAT + d
    W = np.zeros((K, ncols))
    cols = rng.integers(0, MAX_FEAT, 500)
    W[:, cols] = rng.standard_normal((K, 500))
    W[:, MAX_FEAT:] = rng.standard_normal((K, d))
    b = rng.standard_normal(K)
    df = {"weights": W, "b": b, "labels": [0, 1]}
    tags = ["business", "sports"]
    cat = {
        "fingerprint": compute_text_categorizer_fingerprint(
            tags, fe["fingerprint"], df
        ),
        "tags": tags,
        "fe": fe,
        "df": df,
    }
    p = str(tmp_path / "text_categorizer.dat")
    write_text_categorizer(p, cat)
    got = read_text_categorizer(p)
    assert got["tags"] == tags
    assert got["fingerprint"] == cat["fingerprint"]
    assert np.array_equal(got["df"]["weights"], W)
    assert np.array_equal(got["df"]["b"], b)

    model = DlibTextCategorizer(got["tags"], got["df"], got["fe"])
    tokens = "Alice visited Bob . the".split()
    # independent expected score: dense combined-feature vector
    x = np.zeros(ncols)
    for w_ in tokens:
        i, v = make_feat(shash(w_, 0))
        x[i] += v
        i, v = make_feat(shash(stem_word(w_), 10))
        x[i] += v
    x[MAX_FEAT:] = np.mean([fs.token_features(w_) for w_ in tokens], axis=0)
    scores = W @ x - b
    label, score = model(tokens)
    assert label == tags[int(np.argmax(scores))]
    assert score == pytest.approx(float(scores.max()), rel=1e-12)
    # out-of-range class id labels the doc "Unseen" (cpp:152-155)
    model_unseen = DlibTextCategorizer(
        ["only"], {"weights": W, "b": b, "labels": [0, 9]}, got["fe"]
    )
    lab, _ = model_unseen(tokens)
    if int(np.argmax(scores)) == 1:
        assert lab == "Unseen"
    # empty input surfaces the reference's assert as an error
    with pytest.raises(ValueError, match="non-empty"):
        model([])


def test_text_categorizer_pure_model_and_facade(tmp_path):
    """Pure categorizer model + separate extractor predicts identically to
    the full binary, BoW-only (zero-dim fe) scoring skips the dense block
    (text_categorizer.cpp:144-149), and the api facade loads/saves both
    forms."""
    from mitie_spark import api
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.sources.dlib_models import (
        compute_text_categorizer_fingerprint,
        text_categorizer_from_dlib,
        write_text_categorizer,
        write_text_categorizer_pure_model,
    )

    rng = np.random.default_rng(37)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    K = 3
    ncols = MAX_FEAT + d
    W = np.zeros((K, ncols))
    cols = rng.integers(0, ncols, 600)
    W[:, cols] = rng.standard_normal((K, 600))
    b = rng.standard_normal(K)
    df = {"weights": W, "b": b, "labels": [0, 1, 2]}
    tags = ["a", "b", "c"]
    fp = compute_text_categorizer_fingerprint(tags, fe["fingerprint"], df)
    p_full = str(tmp_path / "cat_full.dat")
    p_pure = str(tmp_path / "cat_pure.dat")
    p_fe = str(tmp_path / "twfe.dat")
    write_text_categorizer(
        p_full, {"fingerprint": fp, "tags": tags, "fe": fe, "df": df}
    )
    write_text_categorizer_pure_model(
        p_pure, {"tags": tags, "df": df, "tfe_fingerprint": fe["fingerprint"]}
    )
    write_total_word_feature_extractor(p_fe, fe)

    tokens = "Bob visited Alice today .".split()
    full = text_categorizer_from_dlib(p_full)
    pure = text_categorizer_from_dlib(p_pure, fe_path=p_fe)
    assert full(tokens) == pure(tokens)
    assert full.fingerprint == fp == pure.fingerprint
    # wrong extractor rejected (cpp:72-75)
    fe_bad = _with_crc(_synthetic_fe())
    fe_bad["fingerprint"] = 3
    p_bad = str(tmp_path / "twfe_bad.dat")
    write_total_word_feature_extractor(p_bad, fe_bad)
    with pytest.raises(ValueError, match="same as the one used"):
        text_categorizer_from_dlib(p_pure, fe_path=p_bad)
    # BoW-only: pure model with no extractor at all (ctor 3, cpp:81-113)
    bow_only = text_categorizer_from_dlib(p_pure)
    assert bow_only.fs is None
    lab, _ = bow_only(tokens)
    assert lab in tags
    # per-call extractor upgrade on the facade (cpp predict-with-fe:160-199)
    cat_api = api.text_categorizer(p_pure)
    assert cat_api(tokens, api.total_word_feature_extractor(p_fe)) == full(
        tokens
    )
    # facade full-model load + dlib-format save round-trip
    cat_full_api = api.text_categorizer(p_full)
    assert cat_full_api(tokens) == full(tokens)
    p_resaved = str(tmp_path / "cat_resaved.dat")
    cat_full_api.save_to_disk(p_resaved)
    assert api.text_categorizer(p_resaved)(tokens) == full(tokens)
    p_repure = str(tmp_path / "cat_repure.dat")
    cat_full_api.save_to_disk(p_repure, pure_model=True)
    assert api.text_categorizer(p_repure, fe_filename=p_fe)(tokens) == full(
        tokens
    )


def test_ner_facade_saves_dlib_binaries(tmp_path):
    """A dlib-backed NER saved through the facade writes a real dlib binary
    (full and pure forms) that loads back to identical behavior
    (mitie.cpp:1051-1100 save paths)."""
    from mitie_spark import api
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import N_STATES, NerModel

    rng = np.random.default_rng(41)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    K = 3
    W_cls = np.zeros((K, MAX_FEAT))
    cols = rng.integers(0, MAX_FEAT, 300)
    W_cls[:, cols] = rng.standard_normal((K, 300))
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=W_cls,
        W_cls_dense=rng.standard_normal((K, 5 * d)),
        b_cls=rng.standard_normal(K),
        tags=["PERSON", "LOCATION"],
        fs=fs,
    )
    p0 = str(tmp_path / "ner0.dat")
    write_named_entity_extractor(p0, ner_model_to_dlib(model))
    ner_api = api.named_entity_extractor(p0)
    tokens = ["Alice", "visited", "Bob", "."]
    want = ner_api.extract_entities(tokens)
    p_full = str(tmp_path / "ner_resaved.dat")
    ner_api.save_to_disk(p_full)
    assert api.named_entity_extractor(p_full).extract_entities(tokens) == want
    p_pure = str(tmp_path / "ner_repure.dat")
    p_fe = str(tmp_path / "twfe.dat")
    ner_api.save_to_disk(p_pure, pure_model=True)
    write_total_word_feature_extractor(p_fe, fe)
    assert (
        api.named_entity_extractor(p_pure, fe_filename=p_fe).extract_entities(
            tokens
        )
        == want
    )


def test_ner_dlib_sidecar_cache(tmp_path, monkeypatch):
    """extract_kg's model loader decodes a .dat once per host: the second
    load hits the .npz sidecar in the temp dir (keyed by path+size+mtime)
    and behaves identically."""
    import tempfile

    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import N_STATES, NerModel
    from mitie_spark.operators import extraction

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    rng = np.random.default_rng(71)
    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=np.zeros((3, MAX_FEAT)),
        W_cls_dense=rng.standard_normal((3, 5 * d)),
        b_cls=rng.standard_normal(3),
        tags=["PERSON", "LOCATION"],
        fs=fs,
    )
    p = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p, ner_model_to_dlib(model))
    toks = "Alice visited Bob .".split()
    m1 = extraction._ner_from_dlib_cached(p)
    sidecars = list(tmp_path.glob("mitie_spark_ner_*.npz"))
    assert len(sidecars) == 1
    m2 = extraction._ner_from_dlib_cached(p)
    assert m2.extract_entities(toks) == m1.extract_entities(toks) == model.extract_entities(toks)
    # cache keys on mtime: touching the file forces a re-decode (new key)
    os.utime(p, ns=(1, 1))
    extraction._ner_from_dlib_cached(p)
    assert len(list(tmp_path.glob("mitie_spark_ner_*.npz"))) == 2


def test_bulk_codec_fuzz_vs_scalar():
    """Property fuzz: the vectorized float-block writer/reader must be
    byte- and value-identical to the scalar per-element codecs for any
    float64 contents (including zeros runs, denormals, huge/tiny exponents,
    negatives — the shapes that break variable-length packing)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.floats(allow_nan=False, allow_infinity=False),
                st.just(0.0),
                st.floats(min_value=-1e-300, max_value=1e-300),
                st.integers(min_value=-(2**52), max_value=2**52).map(float),
            ),
            min_size=1,
            max_size=64,
        )
    )
    def roundtrip(vals):
        V = np.asarray(vals, dtype=np.float64)
        w_scalar = DlibWriter()
        for v in V:
            w_scalar.f(float(v))
        w_bulk = DlibWriter()
        w_bulk.float_block(V)
        assert w_scalar.getvalue() == w_bulk.getvalue()
        r = DlibReader(w_bulk.getvalue())
        got_bulk = r.float_block(len(V))
        assert r.pos == len(w_bulk.getvalue())
        r2 = DlibReader(w_bulk.getvalue())
        got_scalar = np.array([r2.f() for _ in range(len(V))])
        assert np.array_equal(got_bulk, V)
        assert np.array_equal(got_scalar, V)

    roundtrip()


def test_bulk_codec_float32_fuzz():
    """Same property at digits=24 (float32-sourced vectors, the TWFE word
    dictionary encoding)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            min_size=1,
            max_size=64,
        )
    )
    def roundtrip(vals):
        V = np.asarray(vals, dtype=np.float32).astype(np.float64)
        w_scalar = DlibWriter()
        for v in V:
            w_scalar.f(float(v), digits=24)
        w_bulk = DlibWriter()
        w_bulk.float_block(V, digits=24)
        assert w_scalar.getvalue() == w_bulk.getvalue()
        got = DlibReader(w_bulk.getvalue()).float_block(len(V))
        assert np.array_equal(got, V)

    roundtrip()


def test_ner_stream_cli_with_dlib_model(tmp_path):
    """The pipe CLI (python -m mitie_spark.streaming.ner_stream MODEL)
    mirrors tools/ner_stream: one line in, one bracket-annotated line out,
    straight off a dlib .dat."""
    import subprocess
    import sys

    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import NerModel
    from mitie_spark.models.svm_train import train_segmenter_svm
    from mitie_spark.streaming.ner_stream import format_markup

    fe = _with_crc(_synthetic_fe())
    fs = DlibTotalWordFeatureExtractor(fe)
    d = fs.dims
    sents = [
        ("Alice visited Bob .".split(), [(0, 1), (2, 3)]),
        ("the . visited the".split(), []),
    ] * 6
    W_seg, T_seg = train_segmenter_svm(sents, fs=fs)
    model = NerModel(
        W_seg=W_seg,
        T_seg=T_seg,
        W_cls_sparse=np.zeros((2, MAX_FEAT)),
        W_cls_dense=np.zeros((2, 5 * d)),
        b_cls=np.array([1.0, 0.0]),
        tags=["PERSON"],
        fs=fs,
    )
    p = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p, ner_model_to_dlib(model))
    out = subprocess.run(
        [sys.executable, "-m", "mitie_spark.streaming.ner_stream", p],
        input="Alice visited Bob .\nthe the\n",
        capture_output=True,
        text=True,
        check=True,
        cwd="/root/repo",
    ).stdout.splitlines()
    toks = "Alice visited Bob .".split()
    ents = [(s, e, t) for s, e, t, _ in model.extract_entities(toks)]
    assert out[0] == format_markup(toks, ents)
    assert "[PERSON Alice]" in out[0] and "[PERSON Bob]" in out[0]
    assert out[1] == "the the "


def test_relation_trainer_on_dlib_backed_ner(tmp_path):
    """The reference workflow — train a custom relation detector on a
    shipped ner_model.dat — must close the loop: the dlib-backed NER
    extracts REFERENCE-space features, so the trainer emits a
    reference-space detector that (a) scores those features, (b) learns
    the planted direction, and (c) exports as a REAL .svm that reloads
    with identical scores."""
    from mitie_spark import api
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import N_STATES, NerModel

    fe = _with_crc(_synthetic_fe())
    src = DlibTotalWordFeatureExtractor(fe)
    rng = np.random.default_rng(23)
    d = src.dims
    model = NerModel(
        W_seg=rng.standard_normal((N_STATES, 3 * d + 1)),
        T_seg=rng.standard_normal((N_STATES, N_STATES)),
        W_cls_sparse=np.zeros((2, MAX_FEAT)),
        W_cls_dense=rng.standard_normal((2, 5 * d)),
        b_cls=rng.standard_normal(2),
        tags=["PERSON"],
        fs=src,
    )
    p_ner = str(tmp_path / "ner_model.dat")
    write_named_entity_extractor(p_ner, ner_model_to_dlib(model))
    ner = api.named_entity_extractor(p_ner)

    t = api.binary_relation_detector_trainer("test.knows", ner)
    pos_sents, neg_sents = [], []
    for k in range(12):
        toks = ["Alice", "knows", "Bob", f"w{k}"]
        t.add_positive_binary_relation(toks, range(0, 1), range(2, 3))
        pos_sents.append(toks)
        # reversed direction is the negative
        t.add_negative_binary_relation(toks, range(2, 3), range(0, 1))
        neg_sents.append(toks)
    det = t.train()
    assert det.name_string == "test.knows"

    ok = 0
    for toks in pos_sents[:6]:
        rel = ner.extract_binary_relation(toks, range(0, 1), range(2, 3))
        anti = ner.extract_binary_relation(toks, range(2, 3), range(0, 1))
        ok += int(det(rel) > 0 and det(anti) <= 0)
    assert ok >= 5  # planted direction learned in reference space

    # export -> REAL .svm -> reload through the facade: identical scores
    p_svm = str(tmp_path / "rel_classifier_test.knows.svm")
    det.save_to_disk(p_svm)
    again = api.binary_relation_detector(p_svm)
    assert again.name_string == "test.knows"
    rel = ner.extract_binary_relation(pos_sents[0], range(0, 1), range(2, 3))
    assert det(rel) == again(rel)
