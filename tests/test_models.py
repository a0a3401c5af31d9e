"""Unit tests for the NER/relation model cores (no Spark)."""

import numpy as np

from mitie_spark.models.ner_model import (
    B, I, L, O, U,
    NerModel,
    chunks_to_labels,
    labels_to_chunks,
    viterbi,
)


def test_viterbi_respects_bilou_constraints():
    # emissions that would prefer an illegal path (I without B)
    em = np.array([[0.0, 0.0, 10.0, 0.0, 0.0]] * 3)
    path = viterbi(em, np.zeros((5, 5)))
    # never starts with I; every I is preceded by B or I
    assert path[0] in (O, B, U)
    for t in range(1, len(path)):
        if path[t] == I:
            assert path[t - 1] in (B, I)
    # must end in O, L, or U
    assert path[-1] in (O, L, U)


def test_chunk_label_roundtrip():
    chunks = [(0, 2), (3, 4), (5, 8)]
    labels = chunks_to_labels(9, chunks)
    assert labels_to_chunks(labels) == chunks
    assert list(labels) == [B, L, O, U, O, B, I, L, O]


def test_model_save_load_roundtrip(tmp_path):
    m = NerModel()
    m.W_seg[:] = np.arange(m.W_seg.size).reshape(m.W_seg.shape)
    p = str(tmp_path / "m.npz")
    m.save(p)
    m2 = NerModel.load(p)
    assert np.array_equal(m.W_seg, m2.W_seg)
    assert m2.tags == m.tags


def test_trained_models_meet_parity_target():
    """Holdout P/R ≥ 0.95 — the BASELINE.json triple-parity criterion,
    evaluated against planted truth (reference models are not vendored)."""
    import os

    from mitie_spark.models.ner_model import NerModel
    from mitie_spark.models.relation_model import RelationModel
    from mitie_spark.models.train import ARTIFACT_DIR, evaluate

    ner = NerModel.load(os.path.join(ARTIFACT_DIR, "ner_model.npz"))
    rel = RelationModel.load(os.path.join(ARTIFACT_DIR, "relation_model.npz"))
    m = evaluate(ner, rel, n_docs=120, seed=31337)
    assert m["mention_precision"] >= 0.95, m
    assert m["mention_recall"] >= 0.95, m
    assert m["triple_precision"] >= 0.95, m
    assert m["triple_recall"] >= 0.95, m


def test_train_all_svm_stack_meets_planted_truth(tmp_path):
    """train_all trains with the SVM stack (structured-SVM segmenter, OCA
    chunk classifier, DCD relation detectors) on the word-feature source
    read from the committed ner_model.npz: the artifacts it writes keep
    that source's fingerprint and read P=R=1.0 on held-out docs. 190
    training docs is the smallest size that reaches it (175 reads mention
    precision 0.93); 200 keeps one step of margin."""
    import os

    from mitie_spark.models.ner_model import NerModel
    from mitie_spark.models.relation_model import RelationModel
    from mitie_spark.models.train import evaluate, train_all

    train_all(out_dir=str(tmp_path), n_train_docs=200)
    ner = NerModel.load(os.path.join(tmp_path, "ner_model.npz"))
    rel = RelationModel.load(os.path.join(tmp_path, "relation_model.npz"))
    assert ner.fs.fingerprint == rel.fingerprint == 2492544235
    m = evaluate(ner, rel, n_docs=300, seed=999)
    assert m == {
        "mention_precision": 1.0,
        "mention_recall": 1.0,
        "triple_precision": 1.0,
        "triple_recall": 1.0,
    }


def test_batched_segmentation_matches_per_doc():
    """extract_documents_batch is batch-invariant: on real corpus docs
    (incl. empty and 1-token texts) each document's result equals that
    document extracted as a batch of one, and its mentions equal the
    per-document ``extract_entities`` (``extract_entities_batch`` on a
    batch of one)."""
    import os

    import pyarrow.parquet as pq

    from mitie_spark.functions.tokenizer import tokenize
    from mitie_spark.models.train import ARTIFACT_DIR
    from mitie_spark.operators.extraction import (
        _load_models,
        extract_documents_batch,
    )

    t = pq.read_table(
        "data/kg_sf0.01/pages.parquet", columns=["text", "lang"]
    ).to_pandas()
    texts = list(t[t.lang == "en"]["text"].head(200)) + ["", "Boston", "a b"]
    ner, rel = _load_models(
        os.path.join(ARTIFACT_DIR, "ner_model.npz"),
        os.path.join(ARTIFACT_DIR, "relation_model.npz"),
    )
    batched = extract_documents_batch(texts, ner, rel)
    assert batched == [
        extract_documents_batch([t], ner, rel)[0] for t in texts
    ]
    for t, (_, mentions, _) in zip(texts, batched):
        assert ner.extract_entities(tokenize(t)) == [
            (m["start"], m["end"], m["tag"], m["score"]) for m in mentions
        ]


def test_viterbi_batch_matches_per_doc_on_random_emissions():
    """Property check: batch and per-doc decode agree on random emission
    matrices of random lengths (including ties, length 1, and the longest
    doc defining the padded horizon)."""
    import numpy as np

    from mitie_spark.models.ner_model import N_STATES, viterbi, viterbi_batch

    rng = np.random.default_rng(123)
    trans = rng.normal(size=(N_STATES, N_STATES))
    lens = [1, 2, 3, 7, 40, 40, 13, 1, 5]
    ems = [rng.normal(size=(n, N_STATES)) for n in lens]
    # inject exact ties to exercise argmax tie-breaking
    ems.append(np.zeros((6, N_STATES)))
    batched = viterbi_batch(ems, trans)
    for e, got in zip(ems, batched):
        np.testing.assert_array_equal(got, viterbi(e, trans))


def test_segment_batch_padding_cap_preserves_output():
    """The padded-cells cap groups docs by length; a tiny cap (every doc in
    its own group) must produce identical chunks to one big group."""
    import os

    import pyarrow.parquet as pq


    from mitie_spark.models.train import ARTIFACT_DIR
    from mitie_spark.operators.extraction import _load_models

    t = pq.read_table(
        "data/kg_sf0.01/pages.parquet", columns=["text", "lang"]
    ).to_pandas()
    texts = list(t[t.lang == "en"]["text"].head(60)) + ["", "Boston"]
    ner, _ = _load_models(
        os.path.join(ARTIFACT_DIR, "ner_model.npz"),
        os.path.join(ARTIFACT_DIR, "relation_model.npz"),
    )
    from mitie_spark.functions.tokenizer import tokenize

    Xs = [ner.X(tokenize(x)) for x in texts]
    assert ner.segment_batch(Xs, max_padded_cells=1) == ner.segment_batch(Xs)


def test_chunk_features_reference_golden():
    """Regression vectors for the reference-exact chunk feature extractor
    (ner_feature_extraction.cpp:167-388 port): pinned (count, first/last
    index, value sum, crc) per chunk over a sentence exercising every
    role (start-of-sentence chunk, end-of-sentence chunk, hyphens,
    all-caps sizes, internal dots). Any change to seeds, hashing, merge
    order, or the context-bag width shows up here."""
    import zlib

    import numpy as np

    from mitie_spark.models.ner_model import chunk_features, sentence_matrix

    toks = "On Tuesday John-Paul DEL Smith of U.S. STEEL Corp visited Xy .".split()
    X = sentence_matrix(toks)
    expected = {
        (2, 5): (65, 8704, 489896, 0.0, 4164058613),
        (0, 1): (41, 8651, 493766, 16.5, 320453484),
        (8, 10): (56, 4605, 488079, 7.5, 3116295870),
        (11, 12): (32, 125, 482540, 15.0, 975670638),
    }
    for (s, e), (n, i0, i1, vsum, crc) in expected.items():
        idx, val, dense = chunk_features(toks, X, s, e)
        assert len(idx) == n
        assert (np.diff(idx) > 0).all()  # sorted unique (merged duplicates)
        assert int(idx[0]) == i0 and int(idx[-1]) == i1
        assert abs(float(val.sum()) - vsum) < 1e-9
        assert (zlib.crc32(idx.tobytes()) ^ zlib.crc32(val.tobytes())) == crc
        # every merged value is a multiple of the reference's 1.5 weight
        assert np.allclose(np.abs(val) % 1.5, 0.0)
        assert dense.shape == (5 * X.shape[1],)


def test_prefix_suffix_sign_extension():
    """C++ char is signed: UTF-8 bytes >= 0x80 sign-extend into the uint32
    lanes of the prefix/suffix murmur variant (ner_feature_extraction.cpp:
    27-61). Pinned against hand-evaluated sign-extended lane values."""
    from mitie_spark.functions.hashing import (
        murmur_hash3_128_u32x4,
        prefix,
        suffix,
    )

    # 'über' = b'\xc3\xbc...' — lanes must be 0xFFFFFFC3, 0xFFFFFFBC
    assert prefix("über", 50) == murmur_hash3_128_u32x4(
        0xFFFFFFC3, 0xFFFFFFBC, ord("b"), 50
    )
    assert prefix("über", 50) == (
        5125904855703891363,
        10899319191235150596,
    )
    assert suffix("née", 51) == (
        381910330686498207,
        16450096332482455117,
    )
    # pure ASCII unchanged
    assert prefix("abc", 7) == murmur_hash3_128_u32x4(97, 98, 99, 7)
