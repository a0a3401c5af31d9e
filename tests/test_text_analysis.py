"""Text categorizer (M5) + trained language-ID tests."""

import os

import pytest

from mitie_spark.models.train import ARTIFACT_DIR


def test_text_categorizer_roundtrip_and_unseen(tmp_path):
    from mitie_spark.models.text_categorizer import (
        TextCategorizer,
        train_text_categorizer,
    )

    examples = [
        (["alpha", "beta", "gamma"], "a"),
        (["delta", "epsilon", "zeta"], "b"),
    ] * 20
    m = train_text_categorizer(examples, epochs=5)
    assert m(["alpha", "beta"])[0] == "a"
    assert m(["delta", "zeta"])[0] == "b"
    p = str(tmp_path / "cat.npz")
    m.save(p)
    m2 = TextCategorizer.load(p)
    assert m2(["alpha", "beta"])[0] == "a"


def test_trained_categorizer_accuracy():
    from mitie_spark.models.text_categorizer import TextCategorizer
    from mitie_spark.models.train import build_categorizer_data

    cat = TextCategorizer.load(os.path.join(ARTIFACT_DIR, "text_categorizer.npz"))
    data = build_categorizer_data(150, 777)
    acc = sum(1 for toks, y in data if cat(toks)[0] == y) / len(data)
    assert acc >= 0.9, acc


def test_categorize_documents_with_dlib_model(tmp_path, spark):
    """The distributed categorizer operator runs straight off a reference
    user's dlib text_categorizer file (pure BoW-only model here); empty
    docs label "Unseen" instead of tripping the port's non-empty assert."""
    import numpy as np
    import pandas as pd

    from mitie_spark.models.text_categorizer import categorize_documents
    from mitie_spark.sources.dlib_models import (
        write_text_categorizer_pure_model,
    )

    rng = np.random.default_rng(67)
    W = rng.standard_normal((2, 4000))
    df_dict = {"weights": W, "b": rng.standard_normal(2), "labels": [0, 1]}
    p = str(tmp_path / "cat_pure.dat")
    write_text_categorizer_pure_model(
        p, {"tags": ["spam", "ham"], "df": df_dict, "tfe_fingerprint": 0}
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["alpha beta gamma", "delta epsilon", ""],
            }
        )
    )
    rows = {r["id"]: r for r in categorize_documents(docs, p).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3]["label"] == "Unseen" and rows[3]["score"] == 0.0
    for i in (1, 2):
        assert rows[i]["label"] in {"spam", "ham", "Unseen"}
    # deterministic vs the local scoring port
    from mitie_spark.functions.tokenizer import tokenize
    from mitie_spark.sources.dlib_models import text_categorizer_from_dlib

    local = text_categorizer_from_dlib(p)
    for i, text in [(1, "alpha beta gamma"), (2, "delta epsilon")]:
        lab, sc = local(tokenize(text))
        assert rows[i]["label"] == lab
        assert rows[i]["score"] == pytest.approx(sc)


def test_trained_langid_heldout_accuracy(spark):
    """The TRAINED lang-ID (char-n-gram NB, functions/langid) must reach
    ≥0.99 accuracy on held-out synthetic pages with genuine language
    signal — the answer-quality bar the stopword heuristic could not meet.
    (The driver corpora's `lang` column is sampled independently of the
    text, so THAT label is unlearnable by construction; the eval corpus is
    a disjoint-seed draw from the same per-language generator.)"""
    import pandas as pd

    from mitie_spark.functions.langid import synthetic_lang_corpus
    from mitie_spark.queries_kg import _langid_model

    model = _langid_model(spark)  # trained via ONE Spark groupBy pass
    assert set(model.langs) == {"en", "de", "es", "fr", "zh"}

    held = synthetic_lang_corpus(n_per_lang=150, seed=99)  # disjoint seed
    held_df = spark.createDataFrame(pd.DataFrame(held, columns=["lang", "text"]))
    scored = held_df.select("lang", model.udf()("text").alias("lid")).collect()
    assert len(scored) == 750
    correct = sum(1 for r in scored if r.lid.lang == r.lang)
    acc = correct / len(scored)
    assert acc >= 0.99, f"held-out accuracy {acc:.4f}"


def test_trained_langid_edge_cases_and_roundtrip(spark, tmp_path):
    from mitie_spark.functions.langid import CharNgramLangID, text_buckets
    import numpy as np

    from mitie_spark.queries_kg import _langid_model

    model = _langid_model(spark)
    langs, conf = model.predict_batch(["", "   ", "der Hund ist gut und das ist schön"])
    assert langs[0] == "und" and conf[0] == 0.0
    assert langs[1] == "und"
    assert langs[2] == "de" and conf[2] > 0.5

    # persistence round trip preserves predictions exactly
    p = str(tmp_path / "langid.npz")
    model.save(p)
    again = CharNgramLangID.load(p)
    texts = ["the quick brown fox", "le chien est content", "这是中文"]
    assert model.predict_batch(texts)[0] == again.predict_batch(texts)[0]

    # hashed bucket counts: deterministic, bounded, vectorized
    c = text_buckets("abcabc")
    assert c.sum() == 6 + 5 + 4  # 1-,2-,3-gram counts
    assert np.array_equal(c, text_buckets("abcabc"))
