"""Tests for connected components, dedup family, and entity linking."""

import random

import pytest
from pyspark.sql import functions as F


def _union_find_components(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def test_connected_components_random_graph(spark, monkeypatch):
    from mitie_spark.operators import graph, webgraph

    rng = random.Random(5)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    vertices = sorted({v for e in edges for v in e})
    truth = _union_find_components(edges, vertices)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.id: r.comp for r in graph.connected_components(df).collect()}
    assert set(got) == set(truth)
    # same partition structure and same (min-id) representative
    assert got == truth
    # distributed min-label-propagation path must agree with the driver
    # union-find path (a gate of 0 forces the shuffle-join loop)
    monkeypatch.setattr(webgraph, "DRIVER_MAX_EDGES", 0)
    got_dist = {r.id: r.comp for r in graph.connected_components(df).collect()}
    assert got_dist == truth


def test_minhash_near_duplicates(spark):
    from mitie_spark.operators.dedup import near_duplicates_minhash

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls gently on the quiet meadow beside the old stone bridge"
    )
    rows = [
        (0, base),
        (1, base.replace("quiet", "silent")),  # near-dup of 0
        (2, base),  # exact dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "another unrelated document mentioning entity linking and lsh"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in near_duplicates_minhash(df, threshold=0.6).collect()
    }
    assert (0, 2) in pairs
    assert (0, 1) in pairs and (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_simhash_near_duplicates(spark):
    from mitie_spark.operators.dedup import near_duplicates_simhash

    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (0, base),
        (1, base + " extra"),  # tiny perturbation
        (2, " ".join(f"other{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): r.hamming for r in near_duplicates_simhash(df).collect()}
    assert (0, 1) in got
    assert all(2 not in k for k in got)


def test_token_ngram_jaccard(spark):
    from mitie_spark.operators.dedup import token_ngram_jaccard

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g x"),
        (2, "p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r.id_a, r.id_b): r.jaccard for r in token_ngram_jaccard(df, n=2, threshold=0.3).collect()}
    assert (0, 1) in out and 0.4 < out[(0, 1)] < 0.9
    assert all(2 not in k for k in out)


def test_link_exact_and_fuzzy(spark):
    from mitie_spark.operators.linking import link_mentions

    alias = spark.createDataFrame(
        [
            ("Maria Okafor", "Q_1", "Maria Okafor", "PERSON"),
            ("M. Okafor", "Q_1", "Maria Okafor", "PERSON"),
            ("Boston", "Q_2", "Boston", "LOCATION"),
            ("Acme Systems", "Q_3", "Acme Systems", "ORGANIZATION"),
        ],
        "alias string, canonical_id string, canonical_name string, tag string",
    )
    mentions = spark.createDataFrame(
        [
            ("u1", "Maria Okafor", "PERSON"),
            ("u1", "Boston", "LOCATION"),
            ("u2", "Acme Systemz", "ORGANIZATION"),  # typo → fuzzy
            ("u2", "Zzz Qqq", "PERSON"),  # no plausible match
        ],
        "url string, surface string, tag string",
    )
    out = {r.surface: (r.canonical_id, r.match_kind) for r in link_mentions(mentions, alias).collect()}
    assert out["Maria Okafor"] == ("Q_1", "exact")
    assert out["Boston"] == ("Q_2", "exact")
    assert out["Acme Systemz"][0] == "Q_3" and out["Acme Systemz"][1] == "fuzzy"
    assert out["Zzz Qqq"][0] is None


def test_canonical_components(spark):
    from mitie_spark.operators.linking import canonical_components

    alias = spark.createDataFrame(
        [
            ("Ben Franklin", "Q_a", "Benjamin Franklin", "PERSON"),
            ("Benjamin Franklin", "Q_a", "Benjamin Franklin", "PERSON"),
            # shared alias bridges Q_a and Q_b into one component
            ("Ben Franklin", "Q_b", "B. Franklin", "PERSON"),
            ("Boston", "Q_c", "Boston", "LOCATION"),
        ],
        "alias string, canonical_id string, canonical_name string, tag string",
    )
    comp = {r.canonical_id: r.component for r in canonical_components(alias).collect()}
    assert comp["Q_a"] == comp["Q_b"]
    assert comp["Q_c"] != comp["Q_a"]


def test_chinese_whispers_splits_dense_clusters(spark):
    """Two internally-dense cliques joined by one weak edge: connected
    components merges them, chinese whispers keeps them apart."""
    from mitie_spark.operators.graph import chinese_whispers, connected_components

    clique_a = [(i, j) for i in range(4) for j in range(4) if i < j]
    clique_b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    bridge = [(3, 10)]
    edges = spark.createDataFrame(
        clique_a + clique_b + bridge, "src long, dst long"
    )
    cc = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert len(set(cc.values())) == 1  # one weak component

    cw = {r["id"]: r["cluster"] for r in chinese_whispers(edges).collect()}
    assert len(set(cw.values())) == 2
    assert len({cw[i] for i in range(4)}) == 1
    assert len({cw[i] for i in range(10, 14)}) == 1
    assert cw[0] != cw[10]


def test_chinese_whispers_shuffle_loop_matches_driver_loop(spark, monkeypatch):
    """With the size gate at 0, chinese_whispers runs its distributed
    shuffle-join loop; it must give the driver loop's clusters, on the
    two-clique graph and on a seeded random graph whose integer weights
    make every weight sum exact (so argmax ties break identically)."""
    from mitie_spark.operators import graph, webgraph

    rng = random.Random(17)
    two_cliques = [
        (i, j, 1) for lo in (0, 10)
        for i in range(lo, lo + 4) for j in range(lo, lo + 4) if i < j
    ] + [(3, 10, 1)]
    random_graph = [
        (rng.randrange(60), rng.randrange(60), rng.randint(1, 5))
        for _ in range(150)
    ]
    for edges in (two_cliques, random_graph):
        df = spark.createDataFrame(edges, "src long, dst long, w long")

        def clusters():
            return {
                r["id"]: r["cluster"]
                for r in graph.chinese_whispers(df, weight="w").collect()
            }

        driver = clusters()
        with monkeypatch.context() as m:
            m.setattr(webgraph, "DRIVER_MAX_EDGES", 0)
            assert clusters() == driver


def test_salted_count_matches_plain_groupby(spark):
    """Skew-resistant two-phase aggregate == plain groupBy().count() on data
    with one pathologically hot key."""
    from pyspark.sql import functions as F

    from mitie_spark.operators.agg import salted_count

    df = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("key")
    )
    expect = {r["key"]: r["count"] for r in df.groupBy("key").count().collect()}
    got = {r["key"]: r["count"] for r in salted_count(df, ["key"]).collect()}
    assert got == expect
    assert got["hot"] == 18_000


def test_word_knn_chinese_whispers_clusters(spark):
    """A9 end-to-end (the wordrep side-tool's full shape,
    tools/wordrep/src/main.cpp:197-256): word vectors → cosine kNN edge
    graph → chinese-whispers clusters. Deterministic and structure-checked:
    interchangeable-slot words (city names) must land in one cluster."""
    import numpy as np

    from mitie_spark.corpus import make_page
    from mitie_spark.models.word_vectors import train_word_vectors
    from mitie_spark.operators.graph import chinese_whispers

    rows = []
    for i in range(150):
        page, _, _ = make_page(7, i)
        rows.append((i, page["text"]))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    wv = train_word_vectors(
        docs, vocab_size=300, cca_dim=8, morph_dim=4, n_substrings=500
    )

    # cosine kNN over the trained core vectors (k=4, driver-side numpy —
    # the vocab IS driver-sized by construction; distributed form is
    # brute_force_topk/ivf_topk over an embeddings table)
    M = wv.core.astype(np.float64)
    keep = np.linalg.norm(M, axis=1) > 1e-9
    idx = np.nonzero(keep)[0]
    Mn = M[idx] / np.linalg.norm(M[idx], axis=1, keepdims=True)
    C = Mn @ Mn.T
    np.fill_diagonal(C, -np.inf)
    k = 4
    edges = []
    for r in range(len(idx)):
        for c in np.argsort(C[r])[-k:]:
            a, b = wv.words[idx[r]], wv.words[idx[int(c)]]
            if a != b:
                edges.append((a, b, float(C[r, int(c)])))
    edf = spark.createDataFrame(edges, "src string, dst string, w double")

    out1 = {
        r["id"]: r["cluster"]
        for r in chinese_whispers(edf, weight="w", max_iter=10).collect()
    }
    out2 = {
        r["id"]: r["cluster"]
        for r in chinese_whispers(edf, weight="w", max_iter=10).collect()
    }
    assert out1 == out2  # deterministic
    assert len(set(out1.values())) > 1  # not one giant blob
    from mitie_spark.corpus import CITY

    cities = [c for c in CITY if c in out1]
    assert len(cities) >= 10
    # interchangeable template slots share contexts → cities cluster with
    # cities: for the large majority of cities, at least one OTHER city
    # shares the same cluster, and the cities condense into far fewer
    # clusters than members
    from collections import Counter

    cluster_city_counts = Counter(out1[c] for c in cities)
    with_company = sum(
        1 for c in cities if cluster_city_counts[out1[c]] >= 2
    )
    assert with_company >= 0.8 * len(cities)
    # the dominant city cluster captures a large share of all cities
    assert max(cluster_city_counts.values()) >= 0.4 * len(cities)


def test_token_ngram_jaccard_prefix_matches_counting(spark):
    """The prefix-filtered strategy (t ≥ 0.5) must return exactly the rows
    the full inverted-index counting strategy returns — prefix filtering is
    lossless for Jaccard thresholds."""
    from mitie_spark.operators.dedup import token_ngram_jaccard
    from mitie_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ["documents"])[
        "documents"
    ]
    hi = token_ngram_jaccard(docs, n=2, threshold=0.6)  # prefix path
    # force the counting path at the same threshold by filtering a lower-
    # threshold counting run
    lo = token_ngram_jaccard(docs, n=2, threshold=0.3).filter(
        "jaccard >= 0.6"
    )
    a = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in hi.collect()}
    b = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in lo.collect()}
    assert a == b
    assert len(a) > 0  # the testdata corpus does contain near-dups


def test_token_ngram_jaccard_minhash_escape_matches_exact(spark):
    """Above the low-threshold size probe the operator escapes to MinHash
    pre-blocking + exact verify (the full inverted index is quadratic in
    hot grams at 100x). On the sf0.001 corpus the 16-band capture
    probability for every emitted pair is ~1, so the escape must return
    the exact strategy's rows; the escape path must also be free of
    cartesian products."""
    from mitie_spark.operators.dedup import token_ngram_jaccard
    from mitie_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ["documents"])[
        "documents"
    ]
    exact = token_ngram_jaccard(docs, n=2, threshold=0.3)
    escaped = token_ngram_jaccard(
        docs, n=2, threshold=0.3, low_t_exact_max_docs=1
    )
    plan = escaped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    a = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in exact.collect()}
    b = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in escaped.collect()}
    # MinHash blocking can only MISS pairs, never invent them; and on this
    # corpus (near-dups at J >= 0.45 with 16 bands) it misses none
    assert b == a
    assert len(a) > 0


def test_token_ngram_jaccard_prefix_threshold_boundary(spark):
    """Regression: 0.56*25 = 14.000000000000002 in double; a naive ceil
    made the AllPairs prefix one gram too short and dropped pairs whose
    Jaccard equals the threshold exactly."""
    import pandas as pd

    from mitie_spark.operators.dedup import token_ngram_jaccard

    shared = [f"s{i}" for i in range(14)]
    only_x = [f"x{i}" for i in range(11)]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [" ".join(shared + only_x), " ".join(shared)],
            }
        )
    )
    # n=1 → gram set == token set; J(x, y) = 14 / 25 = 0.56 exactly
    rows = token_ngram_jaccard(df, n=1, threshold=0.56).collect()
    assert [(r.id_a, r.id_b, round(r.jaccard, 6)) for r in rows] == [
        (1, 2, 0.56)
    ]


def _span_corpus():
    run = [f"r{i}" for i in range(120)]  # 120-token shared run
    d0 = [f"p{i}" for i in range(20)] + run + [f"s{i}" for i in range(10)]
    d1 = [f"q{i}" for i in range(25)] + run + [f"t{i}" for i in range(10)]
    d2 = [f"u{i}" for i in range(60)]  # unrelated
    boiler = [f"b{i}" for i in range(15)]  # exactly one window wide
    rows = [(0, " ".join(d0)), (1, " ".join(d1)), (2, " ".join(d2))]
    for i in range(12):  # 12 docs sharing ONE boilerplate window
        rows.append((10 + i, " ".join([f"f{i}_{j}" for j in range(20)] + boiler)))
    return rows


def test_exact_substring_spans_planted(spark):
    import pandas as pd

    from mitie_spark.operators.dedup import exact_substring_spans

    df = spark.createDataFrame(
        pd.DataFrame(_span_corpus(), columns=["doc_id", "text"])
    )
    all_hex = tuple("0123456789abcdef")  # lossless: every position anchors

    out = {
        (r.id_a, r.id_b): r
        for r in exact_substring_spans(df, anchor_hex=all_hex).collect()
    }
    # the planted run: all 120-15+1 interior windows shared, nothing else
    # (prefixes/suffixes are disjoint); boilerplate window df=12 > 8 capped
    assert set(out) == {(0, 1)}
    r = out[(0, 1)]
    assert r.n_shared_windows == 106
    assert r.first_pos_a == 21 and r.first_pos_b == 26  # 1-based run starts

    # cap lifted: the 12 boilerplate docs pair up on their one shared window
    out2 = {
        (r.id_a, r.id_b): r
        for r in exact_substring_spans(
            df, anchor_hex=all_hex, max_df=100
        ).collect()
    }
    boiler_pairs = {(a, b) for a in range(10, 22) for b in range(a + 1, 22)}
    assert set(out2) == {(0, 1)} | boiler_pairs
    assert all(out2[p].n_shared_windows == 1 for p in boiler_pairs)

    # default 1/16 content-defined anchor rate: a deterministic subset of
    # the lossless result — same pair, fewer (sampled) windows, positions
    # drawn from the same run
    out3 = {
        (r.id_a, r.id_b): r for r in exact_substring_spans(df).collect()
    }
    assert set(out3) == {(0, 1)}
    r3 = out3[(0, 1)]
    assert 1 <= r3.n_shared_windows <= 106
    assert 21 <= r3.first_pos_a <= 126 and 26 <= r3.first_pos_b <= 131
