"""KG-analytics layer: two-hop inference, co-mention lift, BFS depths,
HLL sketch, integer BM25 — unit semantics + plan-shape pins. The full
DuckDB value-hash gates run in test_queries_vs_oracle.py::test_webkg_oracle
(queries_webkg.LOCAL_ORACLES entries)."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


from tests.planutil import explain_formatted as _plan


# ---------------------------------------------------------------------------
# BFS depths
# ---------------------------------------------------------------------------


def test_bfs_depths_chain_and_unreachable(spark):
    from mitie_spark.operators.webgraph import bfs_depths_integer

    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": ["a", "b", "c", "a", "x"],
                "dst": ["b", "c", "d", "c", "y"],
                "weight": [1, 1, 1, 1, 1],
            }
        )
    )
    got = {
        r["node"]: r["depth"]
        for r in bfs_depths_integer(edges, seeds=["a"], iters=3).collect()
    }
    # a->b->c->d chain with the a->c shortcut: c is depth 1, d depth 2;
    # x/y are in another component — dropped, not reported at inf
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_depths_iteration_cap(spark):
    from mitie_spark.operators.webgraph import bfs_depths_integer

    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": ["n0", "n1", "n2", "n3"],
                "dst": ["n1", "n2", "n3", "n4"],
                "weight": [1, 1, 1, 1],
            }
        )
    )
    got = {
        r["node"]: r["depth"]
        for r in bfs_depths_integer(edges, seeds=["n0"], iters=2).collect()
    }
    # with iters=2 only depths <= 2 are discovered; deeper nodes are
    # honestly absent (depths found at pass i are final)
    assert got == {"n0": 0, "n1": 1, "n2": 2}


# ---------------------------------------------------------------------------
# HLL sketch
# ---------------------------------------------------------------------------


def _hll_ref(values):
    """Independent scalar HLL over md5 bits (same construction the
    operator states in Catalyst expressions)."""
    from mitie_spark.operators.sketch import (
        HLL_EST_NUM,
        HLL_LC_TABLE,
        HLL_M,
        HLL_RHO_MAX,
    )

    regs = {}
    for v in values:
        h = int(hashlib.md5(v.encode()).hexdigest()[:8], 16)
        b, w = divmod(h, 1 << (HLL_RHO_MAX - 1))
        rho = HLL_RHO_MAX - w.bit_length() if w else HLL_RHO_MAX
        regs[b] = max(regs.get(b, 0), rho)
    s = sum(1 << (HLL_RHO_MAX - r) for r in regs.values()) + (
        HLL_M - len(regs)
    ) * (1 << HLL_RHO_MAX)
    raw = HLL_EST_NUM // (1000000 * s)
    v_zero = HLL_M - len(regs)
    est = (
        HLL_LC_TABLE[v_zero - 1]
        if raw <= 5 * HLL_M // 2 and v_zero > 0
        else raw
    )
    return v_zero, raw, est


@pytest.mark.parametrize("n", [40, 5000])
def test_hll_matches_scalar_reference(spark, n):
    """n=40 exercises the linear-counting branch, n=5000 the raw branch;
    the distributed register computation must equal the scalar one
    bit-for-bit."""
    from mitie_spark.operators.sketch import hll_distinct

    vals = [f"tok{i}" for i in range(n)]
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["x"] * n, "v": vals})
    )
    row = hll_distinct(df, ["g"], "v").collect()[0]
    v_zero, raw, est = _hll_ref(vals)
    assert (row["n_zero_buckets"], row["hll_raw"], row["hll_est"]) == (
        v_zero,
        raw,
        est,
    )
    # sketch accuracy sanity: relative error well inside 3 sigma
    # (1.04/sqrt(256) ~ 6.5%)
    assert abs(row["hll_est"] - n) / n < 0.25


def test_hll_ignores_null_values(spark):
    """NULL values must not move a group's estimate: md5(NULL) is NULL,
    which would add a NULL-bucket register row that counts in COUNT(*)
    (v_zero, s_int) while adding nothing to the register sum."""
    from mitie_spark.operators.sketch import hll_distinct

    vals = [f"tok{i}" for i in range(40)]
    clean = pd.DataFrame({"g": ["x"] * 40 + ["y"] * 40, "v": vals + vals})
    dirty = pd.concat(
        [clean, pd.DataFrame({"g": ["x"] * 3, "v": [None] * 3})], ignore_index=True
    )

    def est(pdf):
        df = spark.createDataFrame(pdf, "g string, v string")
        return sorted(map(tuple, hll_distinct(df, ["g"], "v").collect()))

    assert est(dirty) == est(clean)


def test_hll_query_is_pure_catalyst(spark):
    import __spark_entry__ as e

    df = e.queries()["hll_distinct_tokens"](spark, SF)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # no pandas UDF either
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final register/rollup


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_plan_broadcasts_idf_and_fuses_topk(spark):
    import __spark_entry__ as e

    df = e.queries()["bm25_doc_ranking"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # top-50 never full-sorts
    assert "BroadcastHashJoin" in plan  # 4-row idf dimension
    assert "CartesianProduct" not in plan


def test_bm25_matches_float_reference(spark):
    """Independent float Okapi BM25 (textbook formula over pandas, k1=1.2,
    b=0.75) must agree with the integer-rational scorer to within the
    documented flooring error — this catches a formula that is identically
    wrong in BOTH engine mirrors, which the cross-engine value-hash gate
    cannot see."""
    import math

    import pyarrow.parquet as pq

    from mitie_spark.queries import QUERIES
    from mitie_spark.queries_pipeline import BM25_TERMS

    docs = pq.read_table(SF + "/documents.parquet").to_pandas()
    tok_lists = [
        [t for t in text.split(" ") if t] for text in docs["text"]
    ]
    n = len(docs)
    dls = [len(ts) for ts in tok_lists]
    avgdl = sum(dls) / n
    expected = {}
    for term in BM25_TERMS:
        df_t = sum(1 for ts in tok_lists if term in ts)
        idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1)
        for doc_id, ts, dl in zip(docs["doc_id"], tok_lists, dls):
            tf = ts.count(term)
            if tf:
                w = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                expected[doc_id] = expected.get(doc_id, 0.0) + w
    out = QUERIES["bm25_doc_ranking"](spark, SF).collect()
    assert 0 < len(out) <= 50
    scores = [r["bm25_p9"] for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        # integer scorer floors idf at ppm and the term weight at 1e-3:
        # worst-case absolute error ~ len(terms) * (idf*1e-3 + 1e-6*2.2)
        # of the 1.0-scale score; 1% relative covers it with margin
        ref = expected[r["doc_id"]]
        assert abs(r["bm25_p9"] / 1e9 - ref) <= 0.01 * ref + 1e-4, (
            r["doc_id"],
            r["bm25_p9"] / 1e9,
            ref,
        )


# ---------------------------------------------------------------------------
# KG graph-pattern queries
# ---------------------------------------------------------------------------


def test_two_hop_inference_broadcasts_geo_dimension(spark):
    import __spark_entry__ as e

    df = e.queries()["kg_two_hop_inference"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_comention_lift_is_integer_and_bounded(spark):
    """Pairs only ever count each url once (distinct projection), and the
    lift is an exact integer: for a pair seen in every doc that carries
    either member, lift_ppm = 1e6 * N / c (mutual containment)."""
    import __spark_entry__ as e

    rows = e.queries()["kg_entity_comentions"](spark, SF).collect()
    assert rows, "sf0.001 corpus must produce co-mention pairs"
    for r in rows[:20]:
        assert r["n_docs_both"] >= 3
        assert r["lift_ppm"] > 0


# ---------------------------------------------------------------------------
# Triangles / clustering
# ---------------------------------------------------------------------------


def test_triangle_clustering_known_graph(spark):
    """K3 (a,b,c) plus pendant d off a: a has deg 3, one triangle,
    cc = 2*1/(3*2) = 1/3; b,c have deg 2, cc = 1; d has deg 1, cc = 0.
    Directed duplicates and self-loops must not inflate anything."""
    from mitie_spark.operators.webgraph import triangle_clustering

    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": ["a", "b", "a", "c", "a", "d", "d"],
                "dst": ["b", "a", "c", "b", "d", "a", "d"],
                "weight": [1] * 7,
            }
        )
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_ppm"])
        for r in triangle_clustering(edges).collect()
    }
    assert got == {
        "a": (3, 1, 333333),
        "b": (2, 1, 1000000),
        "c": (2, 1, 1000000),
        "d": (1, 0, 0),
    }


# ---------------------------------------------------------------------------
# Random-graph differential: distributed graph ops vs pure-Python references
# ---------------------------------------------------------------------------


def _random_digraph(seed, n_nodes=24, n_edges=60):
    import random

    rng = random.Random(seed)
    nodes = [f"h{i}" for i in range(n_nodes)]
    edges = {
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
    }
    return nodes, sorted(edges)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bfs_matches_python_reference(spark, seed):
    from collections import deque

    from mitie_spark.operators.webgraph import bfs_depths_integer

    nodes, edges = _random_digraph(seed)
    adj = {}
    present = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        present.update((s, d))
    # reference BFS from h0 over the directed graph
    ref = {}
    if "h0" in present:
        ref["h0"] = 0
        q = deque(["h0"])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in ref:
                    ref[v] = ref[u] + 1
                    q.append(v)
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]).assign(weight=1)
    )
    # iters=8 bounds discovery; the reference is truncated to match
    got = {
        r["node"]: r["depth"]
        for r in bfs_depths_integer(df, seeds=["h0"], iters=8).collect()
    }
    assert got == {k: v for k, v in ref.items() if v <= 8}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangles_match_python_reference(spark, seed):
    from itertools import combinations

    from mitie_spark.operators.webgraph import triangle_clustering

    nodes, edges = _random_digraph(seed)
    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    neigh = {}
    for u, v in und:
        neigh.setdefault(u, set()).add(v)
        neigh.setdefault(v, set()).add(u)
    ref = {}
    for n, ns in neigh.items():
        tri = sum(
            1 for a, b in combinations(sorted(ns), 2) if (a, b) in und
        )
        deg = len(ns)
        cc = 0 if deg < 2 else (2 * tri * 1000000) // (deg * (deg - 1))
        ref[n] = (deg, tri, cc)
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]).assign(weight=1)
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_ppm"])
        for r in triangle_clustering(df).collect()
    }
    assert got == ref


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------


def test_label_propagation_two_triangles(spark):
    """Two triangles bridged by one weak edge: after 2 synchronous passes
    each triangle converges to its own min label; the deterministic
    tie-break (count DESC, label ASC) decides every vote identically on
    every run."""
    from mitie_spark.operators.webgraph import label_propagation

    tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    bridge = [("a1", "b1")]
    edges = spark.createDataFrame(
        pd.DataFrame(tri1 + tri2 + bridge, columns=["src", "dst"]).assign(
            weight=1
        )
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=2).collect()
    }
    # pass 1: every node takes its neighborhood's min label; pass 2
    # consolidates — a-side all a1, b-side all b1 except the bridge
    # endpoints keep voting deterministically
    assert set(got) == {"a1", "a2", "a3", "b1", "b2", "b3"}
    a_labels = {got[n] for n in ("a1", "a2", "a3")}
    b_labels = {got[n] for n in ("b2", "b3")}
    assert a_labels == {"a1"}
    assert b_labels <= {"b1", "a1"}
    # rerun must be bit-identical (determinism, not just plausibility)
    again = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=2).collect()
    }
    assert again == got


def test_label_propagation_isolated_node_keeps_label(spark):
    from mitie_spark.operators.webgraph import label_propagation

    edges = spark.createDataFrame(
        pd.DataFrame(
            {"src": ["x", "i"], "dst": ["y", "i"], "weight": [1, 1]}
        )
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=2).collect()
    }
    # i only has a self-loop (dropped) -> keeps its own label
    assert got["i"] == "i"
    assert got["x"] in {"x", "y"} and got["y"] in {"x", "y"}


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------


def test_kcore_peels_tail_cascade(spark):
    """K4 {a,b,c,d} with a chain d-e-f: e and f fall below k=3 and peel
    in CASCADE (f needs e's removal to already have happened), while the
    K4 survives with in-core degree 3 each (d's degree drops from 4 to 3
    once e is gone)."""
    from mitie_spark.operators.webgraph import kcore_flags

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    tail = [("d", "e"), ("e", "f")]
    edges = spark.createDataFrame(
        pd.DataFrame(k4 + tail, columns=["src", "dst"]).assign(weight=1)
    )
    got = {
        r["node"]: (r["in_kcore"], r["core_degree"])
        for r in kcore_flags(edges, k=3, rounds=4).collect()
    }
    assert got == {
        "a": (1, 3),
        "b": (1, 3),
        "c": (1, 3),
        "d": (1, 3),
        "e": (0, 0),
        "f": (0, 0),
    }


# ---------------------------------------------------------------------------
# KMV bottom-k truncation path (the gate corpora's ~31-token vocabularies
# never exceed k, so the sketch's actual job is pinned here)
# ---------------------------------------------------------------------------


def test_kmv_truncation_matches_scalar_reference(spark):
    """Two groups of 300 distinct values with a planted 150-value overlap
    — vocab >> k=64, so the bottom-k truncation and the signature-overlap
    estimator are both live; the distributed result must equal a scalar
    re-derivation bit for bit, and must approximate the true Jaccard
    (1/3) within sketch error."""
    from mitie_spark.operators.sketch import kmv_jaccard

    shared = [f"s{i}" for i in range(150)]
    va = shared + [f"a{i}" for i in range(150)]
    vb = shared + [f"b{i}" for i in range(150)]
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": ["A"] * len(va) + ["B"] * len(vb), "v": va + vb}
        )
    )
    row = kmv_jaccard(df, "g", "v", k=64).collect()
    assert len(row) == 1
    got = (row[0]["n_shared"], row[0]["jaccard_ppm"])

    def h32(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    sig_a = set(sorted(h32(t) for t in set(va))[:64])
    sig_b = set(sorted(h32(t) for t in set(vb))[:64])
    n_shared = len(sig_a & sig_b)
    ref = (
        n_shared,
        n_shared * 1000000 // (len(sig_a) + len(sig_b) - n_shared),
    )
    assert got == ref
    assert len(sig_a) == 64  # truncation actually happened
    true_j = 150 / 450
    assert abs(got[1] / 1e6 - true_j) < 0.15  # sketch-accuracy sanity


def test_kcore_rounds_reach_fixpoint_on_synth_graph(spark):
    """The gated query runs 4 fixed rounds; both engines mirror the same
    truncation, so the gate cannot see a non-converged peel. Pin
    convergence directly: round 4 and round 5 survivor flags must be
    identical on the synth host graph."""
    from mitie_spark.operators.webgraph import kcore_flags
    from mitie_spark.queries_webkg import _edges

    edges = _edges(spark, SF)
    r4 = {
        (r["node"], r["in_kcore"], r["core_degree"])
        for r in kcore_flags(edges, k=3, rounds=4).collect()
    }
    r5 = {
        (r["node"], r["in_kcore"], r["core_degree"])
        for r in kcore_flags(edges, k=3, rounds=5).collect()
    }
    assert r4 == r5


def test_kmv_ignores_null_values(spark):
    """A NULL value must not enter a signature (md5(NULL) is NULL: it
    would take window rank 1 and inflate n_sig while never matching in
    the hash join) — two identical groups that each also carry a NULL
    must still read jaccard_ppm = 1000000."""
    from mitie_spark.operators.sketch import kmv_jaccard

    vals = [f"t{i}" for i in range(20)] + [None]
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": ["A"] * 21 + ["B"] * 21, "v": vals + vals}
        )
    )
    row = kmv_jaccard(df, "g", "v", k=64).collect()
    assert len(row) == 1
    assert (row[0]["n_shared"], row[0]["jaccard_ppm"]) == (20, 1000000)


@pytest.mark.parametrize(
    "op",
    [
        "pagerank", "pagerank_loop", "pagerank_integer", "hits_integer",
        "bfs_depths_integer", "label_propagation", "kcore_flags",
        "transitive_closure",
        "triangle_clustering", "connected_components",
        "connected_components_loop", "chinese_whispers",
        "chinese_whispers_loop",
    ],
)
def test_graph_operator_leaves_no_cached_frame(spark, monkeypatch, op):
    """The iterative operators are eager (webgraph._iterate): every frame
    they persist is unpersisted before they return, so no lazily cached
    frame outlives the call. Checked as an unchanged cache-entry count,
    not as an empty cache manager: other tests in the session keep
    persisted shared frames. Each op gets its own graph: persisting a
    plan that is already cached adds no entry, so a leak would hide
    behind an earlier op's leak of the same frame. A ``_loop`` op runs
    with the size gate at 0, so its shuffle loop runs instead of the
    driver path."""
    import random

    from mitie_spark.operators import graph, kgquery, webgraph as wg

    rng = random.Random(op)
    pairs = {tuple(rng.sample(range(12), 2)) for _ in range(30)}
    rows = [(f"n{a}", f"n{b}", rng.randint(1, 4)) for a, b in sorted(pairs)]
    e = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "weight"]))
    calls = {
        "pagerank": lambda: wg.pagerank(e, iters=6),
        "pagerank_integer": lambda: wg.pagerank_integer(e, iters=6),
        "hits_integer": lambda: wg.hits_integer(e, iters=2),
        "bfs_depths_integer": lambda: wg.bfs_depths_integer(e, ["n0"], iters=6),
        "label_propagation": lambda: wg.label_propagation(e, iters=4),
        "kcore_flags": lambda: wg.kcore_flags(e, k=2, rounds=2),
        "transitive_closure": lambda: kgquery.transitive_closure(
            e.select(F.col("src").alias("subj"), F.lit("p").alias("pred"),
                     F.col("dst").alias("obj")),
            "p",
        ),
        "triangle_clustering": lambda: wg.triangle_clustering(e),
        "connected_components": lambda: graph.connected_components(e),
        "chinese_whispers": lambda: graph.chinese_whispers(e, weight="weight"),
    }
    if op.endswith("_loop"):
        monkeypatch.setattr(wg, "DRIVER_MAX_EDGES", 0)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    calls[op.removesuffix("_loop")]()
    assert cache.numCachedEntries() == before


@pytest.mark.parametrize("raises", [False, True])
@pytest.mark.parametrize("aqe", ["true", "false"])
def test_iterate_runs_with_aqe_off_and_restores_it(spark, aqe, raises):
    """_iterate plans its loop with AQE off, so a pass runs as one job, not
    one job per query stage, and puts the caller's AQE setting back on the
    way out, when a step raises too."""
    from mitie_spark.operators.webgraph import _iterate

    key = "spark.sql.adaptive.enabled"
    seen = []

    def step(state, i):
        seen.append(spark.conf.get(key))
        if raises and i == 1:
            raise ValueError("step failed")
        return state.select((F.col("x") + 1).alias("x"))

    inv = spark.range(3)

    def run():
        state0 = inv.select(F.col("id").alias("x"))
        return _iterate([inv], state0, step, 3, 1, lambda s: s)

    prior = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        if raises:
            with pytest.raises(ValueError, match="step failed"):
                run()
        else:
            assert sorted(r.x for r in run().collect()) == [3, 4, 5]
        assert spark.conf.get(key) == aqe
    finally:
        spark.conf.set(key, prior)
    assert seen == ["false"] * (2 if raises else 3)
    assert not inv.is_cached


# ---------------------------------------------------------------------------
# Session memo for values shared across registry queries
# ---------------------------------------------------------------------------


def test_session_memo_keys_on_resolved_path(spark, monkeypatch):
    """Spellings of one corpus directory ('sf', 'sf/', a relative path)
    share one memo entry: BPE trains once, and the persisted extraction
    frame is built (and cached) once."""
    import os

    import mitie_spark.queries  # noqa: F401  registry first: it imports queries_kg
    from mitie_spark import session
    from mitie_spark.operators import bpe
    from mitie_spark.queries_kg import _kg
    from mitie_spark.queries_llmdata import _bpe_merges_cached

    monkeypatch.setattr(session, "_MEMO", {})  # stub values stay in this test
    calls = []

    def counting_train_bpe(docs, n_merges, min_freq):
        calls.append(n_merges)
        return [("a", "b")]

    monkeypatch.setattr(bpe, "train_bpe", counting_train_bpe)
    got = [
        _bpe_merges_cached(spark, sf)
        for sf in (SF, SF + "/", os.path.relpath(SF))
    ]
    assert len(calls) == 1
    assert got[0] is got[1] is got[2]

    cache = spark._jsparkSession.sharedState().cacheManager()
    kg = _kg(spark, SF)
    before = cache.numCachedEntries()
    assert _kg(spark, SF + "/") is kg
    assert cache.numCachedEntries() == before


def test_query_modules_hold_no_module_level_cache_dict():
    """Values shared across registry queries go through
    session.session_memo. A module-level empty dict literal in a query
    module (``X = {}`` / ``X: dict[...] = {}``) is the shape of a
    hand-rolled cache growing back beside it. The registry's own
    QUERIES/ORACLES dicts in queries.py are the one exception."""
    import ast
    import glob
    import os

    import mitie_spark

    registry = {"QUERIES", "ORACLES"}  # queries.py's query registry
    pkg = os.path.dirname(mitie_spark.__file__)
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "queries*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if (
                isinstance(node, (ast.Assign, ast.AnnAssign))
                and isinstance(node.value, ast.Dict)
                and not node.value.keys
            ):
                for t in getattr(node, "targets", None) or [node.target]:
                    name = getattr(t, "id", "?")
                    if name not in registry:
                        found.append(f"{os.path.basename(path)}:{name}")
    assert not found, found


def test_one_ner_decode_path_and_one_model_format_rule():
    """NER decoding has one entry point, NerModel.extract_entities_batch:
    no module under mitie_spark/ but models/ner_model.py calls its two
    stages (.segment_batch / .classify_chunks_batch) directly. The
    .npz-vs-dlib format decision has one home, sources/dlib_models.is_npz:
    no other module defines an is_npz / _is_npz of its own."""
    import ast
    import glob
    import os

    import mitie_spark

    pkg = os.path.dirname(mitie_spark.__file__)
    stages = {"segment_batch", "classify_chunks_batch"}
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                rel != os.path.join("models", "ner_model.py")
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in stages
            ):
                found.append(f"{rel}:{node.lineno} calls .{node.func.attr}")
            if (
                rel != os.path.join("sources", "dlib_models.py")
                and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name in ("is_npz", "_is_npz")
            ):
                found.append(f"{rel}:{node.lineno} defines {node.name}")
    assert not found, found


def test_one_trainer_per_model():
    """The NER segmenter, chunk classifier and relation detectors each
    have one trainer, the ported reference solver (svm_train, oca, dcd):
    no module under mitie_spark/ defines one of the deleted perceptron
    trainers or their C searches, and the api's NER and relation trainers
    set no ``solver`` switch."""
    import ast
    import glob
    import os

    import mitie_spark

    gone = {
        "train_segmenter", "train_chunk_classifier", "tune_relation_C",
        "tune_classifier_C",
    }
    one_solver = {"ner_trainer", "binary_relation_detector_trainer"}
    pkg = os.path.dirname(mitie_spark.__file__)
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name in gone
            ):
                found.append(f"{rel}:{node.lineno} defines {node.name}")
            if isinstance(node, ast.ClassDef) and node.name in one_solver:
                for sub in ast.walk(node):
                    if (
                        isinstance(sub, ast.Attribute)
                        and sub.attr == "solver"
                        and isinstance(sub.ctx, ast.Store)
                    ):
                        found.append(
                            f"{rel}:{sub.lineno} {node.name} sets .solver"
                        )
    assert not found, found
