"""Spark tests: similarity search, multimodal plumbing, streaming NER,
CoNLL/gigaword readers, word-vector training."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(0)
    rows = []
    base = rng.standard_normal(16)
    for i in range(80):
        if i < 4:  # planted near-duplicates of vector 0
            v = base + rng.standard_normal(16) * 0.01
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_brute_force_topk(spark, emb_df):
    from mitie_spark.operators.similarity import brute_force_topk

    q = emb_df.filter("vec_id = 0")
    c = emb_df.filter("vec_id > 0")
    got = brute_force_topk(c, q, k=5).collect()
    assert len(got) == 5
    # the planted near-dups must rank at the top
    top3 = {r.cid for r in got if r.rk <= 3}
    assert top3 == {1, 2, 3}
    assert all(r.cos > 0.99 for r in got if r.rk <= 3)


def test_brute_force_topk_null_and_zero_norm_guards(spark):
    """NULL embeddings must be filtered (not crash np.stack in the UDF),
    and a vector that quantizes to all-zero must yield NaN, not a 0/0
    platform artifact."""
    from mitie_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, None),  # unscoreable: must be dropped, not kill the task
        (3, [1e-9, 1e-9, 1e-9]),  # floors to all-zero under 1e6 quantization
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = df.filter("vec_id = 0")
    c = df.filter("vec_id > 0")
    got = {r.cid: r.cos for r in brute_force_topk(c, q, k=10).collect()}
    assert 2 not in got  # null embedding filtered on the candidate side
    assert got[1] > 0.98
    quant = {
        r.cid: r.cos
        for r in brute_force_topk(c, q, k=10, quantize_scale=1e6).collect()
    }
    # NumPy-side NaN arrives as SQL NULL through Arrow — the same value
    # the F.aggregate expressions this UDF replaced produced for 0/0
    assert quant[3] is None

    # null on the QUERY side must be filtered too
    qn = df.filter("vec_id = 2")
    assert brute_force_topk(c, qn, k=5).count() == 0


def test_dlib_f32_mean_empty_range_raises():
    from mitie_spark.models.ner_model import dlib_f32_mean

    with pytest.raises(ValueError, match="empty range"):
        dlib_f32_mean(np.zeros((0, 4), dtype=np.float32))


def test_ivf_topk_recall(spark, emb_df):
    from mitie_spark.operators.similarity import brute_force_topk, ivf_topk

    q = emb_df.filter("vec_id = 0")
    c = emb_df.filter("vec_id > 0")
    exact = {r.cid for r in brute_force_topk(c, q, k=3).collect()}
    approx = {r.cid for r in ivf_topk(c, q, k=3, n_cells=8, nprobe=4).collect()}
    # near-dups sit in the same cell as the query → recall should be perfect
    assert exact == approx


def test_cosine_near_duplicates(spark, emb_df):
    from mitie_spark.operators.similarity import cosine_near_duplicates

    pairs = {(r.id_a, r.id_b) for r in cosine_near_duplicates(emb_df, threshold=0.95).collect()}
    expected = {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
    assert pairs == expected


def test_cosine_near_duplicates_driver_path_matches_distributed(
    spark, emb_df, monkeypatch
):
    """The probe-gated driver path and the distributed path must produce
    bit-identical (id_a, id_b, cos) sets — same planes, same blocking,
    same chunked-matmul arithmetic."""
    from mitie_spark.operators import similarity

    def pairs():
        out = similarity.cosine_near_duplicates(emb_df, threshold=0.9)
        return {(r.id_a, r.id_b, r.cos) for r in out.collect()}

    local = pairs()
    monkeypatch.setattr(similarity, "DRIVER_MAX_ROWS", 1)
    dist = pairs()
    assert local == dist and len(local) >= 6


def test_multimodal_plumbing(spark):
    from mitie_spark.operators.multimodal import (
        decode_image,
        extract_features,
        frame_sample_offsets,
        synth_media_table,
    )

    media = synth_media_table(spark, n=30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 64 for r in feats)
    # deterministic: same payload → same feature/hash
    again = extract_features(media).collect()
    assert {r.media_id: r.content_hash for r in feats} == {
        r.media_id: r.content_hash for r in again
    }
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG", deterministic_fake=False)
    assert frame_sample_offsets(3500, 1000) == [0, 1000, 2000, 3000]
    assert frame_sample_offsets(0) == []


def test_ner_stream_available_now(spark, tmp_path):
    import os

    from mitie_spark.models.train import ARTIFACT_DIR
    from mitie_spark.streaming.ner_stream import ner_stream

    ind = tmp_path / "in"
    ind.mkdir()
    (ind / "f1.txt").write_text(
        "Maria Okafor was born in Lyon.\nthe fast table scan.\n"
    )
    q = ner_stream(
        spark,
        str(ind),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        os.path.join(ARTIFACT_DIR, "ner_model.npz"),
    )
    q.awaitTermination(120)
    rows = {r.line: r.annotated for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows["Maria Okafor was born in Lyon."] == (
        "[PERSON Maria Okafor] was born in [LOCATION Lyon] . "
    )
    assert rows["the fast table scan."] == "the fast table scan . "


def test_read_conll_and_gigaword(spark, tmp_path):
    from mitie_spark.sources.conll import read_conll
    from mitie_spark.sources.gigaword import read_gigaword

    from tests.test_sources_and_predicates import CONLL_SAMPLE, GIGA_SAMPLE

    (tmp_path / "c.conll").write_text(CONLL_SAMPLE)
    (tmp_path / "g.xml").write_text(GIGA_SAMPLE)
    c = read_conll(spark, str(tmp_path / "c.conll")).collect()
    assert len(c) == 2
    assert c[0].tokens == ["EU", "rejects", "German", "call"]
    assert c[0].chunks[0].asDict() == {"start": 0, "end": 1, "tag": "ORGANIZATION"}
    g = read_gigaword(spark, str(tmp_path / "g.xml")).collect()
    assert len(g) == 2
    assert g[0].doc_id == "AFP_ENG_19940512.0001"


def test_train_word_vectors(spark):
    """wordrep pipeline sanity: words sharing contexts in the templates
    (city names) must embed closer to each other than to unrelated words."""
    from mitie_spark.corpus import make_page
    from mitie_spark.models.word_vectors import train_word_vectors

    rows = []
    for i in range(150):
        page, _, _ = make_page(7, i)
        rows.append((i, page["text"]))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    wv = train_word_vectors(docs, vocab_size=400, cca_dim=8, morph_dim=4,
                            n_substrings=500)

    def cos(a, b):
        va, vb = wv.get_feature_vector(a), wv.get_feature_vector(b)
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb) + 1e-9))

    # cities appear in interchangeable template slots → similar contexts
    assert cos("Lyon", "Porto") > cos("Lyon", "works")
    assert cos("Lyon", "Osaka") > cos("Lyon", "the")
    # OOV word gets the flag + morph fallback, not zeros
    v = wv.get_feature_vector("Lyonesque")
    assert v[0] == 1.0
    # round-trip
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "wv.npz")
        wv.save(p)
        from mitie_spark.models.word_vectors import WordVectors

        wv2 = WordVectors.load(p)
        assert np.allclose(wv2.get_feature_vector("Lyon"), wv.get_feature_vector("Lyon"))

        # reference binding facade over the same artifact (mitie.py:844-905)
        from mitie_spark import api

        fe = api.total_word_feature_extractor(p)
        assert fe.num_dimensions == wv.dims
        assert fe.num_words_in_dictionary == len(fe.get_words_in_dictionary())
        assert np.allclose(fe.get_feature_vector("Lyon"), wv.get_feature_vector("Lyon"))


def test_multimodal_real_decoder_seam(spark):
    """A real decoder drops in without touching the stage: inject a
    callable (as a cluster user would — it ships to executors inside the
    mapInPandas closure) and the decode path runs WITHOUT
    deterministic_fake. Also: with no decoder and no fake requested, the
    stage fails loudly, and the PIL import-try resolves to None in this
    container rather than silently falling back."""
    import numpy as np
    import pytest

    from mitie_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        pil_image_decoder,
        synth_media_table,
    )

    assert pil_image_decoder() is None  # no PIL here — seam stays honest

    def injected_decoder(payload: bytes):
        # stand-in for a real PIL/opencv decode: derive a vector from the
        # payload header bytes (shape/dtype contract identical)
        head = np.frombuffer((payload or b"\x00") * FEATURE_DIM, np.uint8)
        return (head[:FEATURE_DIM].astype(np.float32) / 255.0)

    media = synth_media_table(spark, n=12)
    rows = extract_features(
        media, deterministic_fake=False, decoder=injected_decoder
    ).collect()
    assert len(rows) == 12
    by_id = {r["media_id"]: r for r in rows}
    pay = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, r in by_id.items():
        expect = injected_decoder(pay[mid])
        assert np.allclose(np.array(r["feature"], np.float32), expect)

    # no decoder + no fake => loud failure, not silent fake features
    with pytest.raises(Exception) as ei:
        extract_features(media, deterministic_fake=False).collect()
    assert "decoder" in str(ei.value) or "NotImplemented" in str(ei.value)


def test_multimodal_corrupt_payload_degrades_in_stage(spark):
    """extract_features (the corpus-scale path) must degrade per-payload
    to the seeded fake when an INJECTED decoder raises a non-
    UnsupportedMediaError (PIL-style OSError on a truncated PNG) — one
    bad blob must not kill the task; without deterministic_fake the
    stage fails loudly."""
    import numpy as np
    import pandas as pd
    import pytest

    from mitie_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        fake_decode,
    )

    good = np.zeros(FEATURE_DIM, dtype=np.float32)

    def decoder(payload: bytes):
        if payload.startswith(b"\x89PNG"):
            raise OSError("cannot identify image file")  # PIL-style
        return good

    corrupt = b"\x89PNG\r\n\x1a\n" + b"\x00" * 4
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "kind": ["image", "image"],
                "payload": [b"fine-bytes", corrupt],
            }
        )
    )
    rows = {
        r.media_id: r.feature
        for r in extract_features(
            media, deterministic_fake=True, decoder=decoder
        ).collect()
    }
    assert rows[1] == good.tolist()
    assert np.allclose(rows[2], fake_decode(corrupt))
    with pytest.raises(Exception):
        extract_features(
            media, deterministic_fake=False, decoder=decoder
        ).collect()
