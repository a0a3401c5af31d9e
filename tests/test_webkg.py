"""Web-KG extraction + link-graph unit tests (operators/webgraph.py,
queries_webkg.py): JSON-LD / OpenGraph / href extraction edge cases,
hand-computed integer PageRank, the float PageRank invariants, and the
physical-plan shapes the 100 TB story depends on."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _pages(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame({"url": [r[0] for r in rows], "html": [r[1] for r in rows]})
    )


# ---------------------------------------------------------------------------
# JSON-LD
# ---------------------------------------------------------------------------


def test_jsonld_extracts_article_paths(spark):
    from mitie_spark.operators.webgraph import extract_jsonld_triples

    html = (
        '<html><head><script type="application/ld+json">'
        '{"@type":"Article","headline":"h1","author":{"@type":"Person",'
        '"name":"a1"},"publisher":{"@type":"Organization","name":"p1"},'
        '"wordCount":7}</script></head><body></body></html>'
    )
    got = extract_jsonld_triples(_pages(spark, [("u1", html)])).toPandas()
    triples = {(r.pred, r.obj) for r in got.itertuples()}
    assert triples == {
        ("rdf:type", "Article"),
        ("schema:headline", "h1"),
        ("schema:author", "a1"),
        ("schema:publisher", "p1"),
        ("schema:wordCount", "7"),
    }
    assert set(got["subj"]) == {"u1"}


def test_jsonld_hostile_inputs_yield_no_rows(spark):
    """Pages without a block, with malformed JSON, or with keys missing
    contribute nothing (crawl-hostile default, never an error)."""
    from mitie_spark.operators.webgraph import extract_jsonld_triples

    rows = [
        ("no_block", "<html><body><p>plain</p></body></html>"),
        (
            "bad_json",
            '<script type="application/ld+json">{not json}</script>',
        ),
        (
            "partial",
            '<script type="application/ld+json">{"headline":"only"}</script>',
        ),
    ]
    got = extract_jsonld_triples(_pages(spark, rows)).toPandas()
    assert set(got["subj"]) == {"partial"}
    assert set(zip(got["pred"], got["obj"])) == {("schema:headline", "only")}


def test_jsonld_first_block_wins(spark):
    from mitie_spark.operators.webgraph import extract_jsonld_triples

    html = (
        '<script type="application/ld+json">{"headline":"first"}</script>'
        '<script type="application/ld+json">{"headline":"second"}</script>'
    )
    got = extract_jsonld_triples(_pages(spark, [("u", html)])).toPandas()
    assert list(got[got["pred"] == "schema:headline"]["obj"]) == ["first"]


# ---------------------------------------------------------------------------
# OpenGraph meta
# ---------------------------------------------------------------------------


def test_og_meta_missing_property_is_null(spark):
    from mitie_spark.operators.webgraph import extract_og_meta

    rows = [
        ("u1", '<meta property="og:title" content="t1"/>'),
        ("u2", '<meta property="og:locale" content="en"/>'),
    ]
    got = (
        extract_og_meta(_pages(spark, rows), properties=("title", "locale"))
        .toPandas()
        .set_index("url")
    )
    assert got.loc["u1", "og_title"] == "t1"
    assert pd.isna(got.loc["u1", "og_locale"])
    assert pd.isna(got.loc["u2", "og_title"])
    assert got.loc["u2", "og_locale"] == "en"


# ---------------------------------------------------------------------------
# Link extraction
# ---------------------------------------------------------------------------


def test_extract_links_absolute_only(spark):
    from mitie_spark.operators.webgraph import extract_links

    html = (
        '<a href="https://a.com/x">1</a>'
        '<a href="/relative/path">2</a>'
        '<a href="http://b.org">3</a>'
        '<a href="mailto:x@c.com">4</a>'
        '<a href="https://a.com/y">5</a>'
    )
    got = extract_links(
        _pages(spark, [("u", html)]), F.lit("me.example")
    ).toPandas()
    assert list(got["src_host"].unique()) == ["me.example"]
    assert sorted(got["dst_host"]) == ["a.com", "a.com", "b.org"]


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _pr_int_expected(edges, iters=3, scale=10**12, damp=85):
    """Pure-Python int reference of pagerank_integer's exact semantics."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    r = {v: scale // n for v in nodes}
    tele = (100 - damp) * scale // (100 * n)
    for _ in range(iters):
        nxt = {v: tele for v in nodes}
        for s, d, w in edges:
            nxt[d] += damp * r[s] * w // (100 * outw[s])
        r = nxt
    return r


def test_pagerank_integer_matches_hand_reference(spark):
    from mitie_spark.operators.webgraph import pagerank_integer

    edges = [("a", "b", 2), ("b", "c", 1), ("c", "a", 1), ("a", "c", 3)]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst", "weight"])
    )
    got = {
        r.node: r.rank_int for r in pagerank_integer(df, iters=3).collect()
    }
    assert got == _pr_int_expected(edges)


def test_pagerank_integer_dangling_node_gets_teleport_only(spark):
    from mitie_spark.operators.webgraph import pagerank_integer

    # b has no outlinks (dangling) and nothing links to a mid-iteration
    edges = [("a", "b", 1)]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst", "weight"])
    )
    got = {
        r.node: r.rank_int for r in pagerank_integer(df, iters=2).collect()
    }
    assert got == _pr_int_expected(edges, iters=2)
    # dangling b leaks its damped mass: a ends at the teleport floor
    assert got["a"] == 15 * 10**12 // 200


def test_pagerank_float_conserves_mass_on_closed_graph(spark, monkeypatch):
    from mitie_spark.operators import webgraph

    # every node has outlinks -> no dangling leak -> ranks sum to 1, on the
    # driver path and on the shuffle loop (a size gate of 0)
    edges = [("a", "b", 1), ("b", "c", 2), ("c", "a", 1), ("b", "a", 1)]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst", "weight"])
    )
    for gate in (webgraph.DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(webgraph, "DRIVER_MAX_EDGES", gate)
        ranks = {
            r.node: r.rank for r in webgraph.pagerank(df, iters=20).collect()
        }
        assert abs(sum(ranks.values()) - 1.0) < 1e-9
        assert all(v > 0 for v in ranks.values())
        # a receives from both b (1/4 of b) and c (all of c): top rank
        assert max(ranks, key=ranks.get) == "a"


@pytest.mark.parametrize("seed", [3, 8, 21])
def test_pagerank_driver_path_matches_shuffle_loop(spark, monkeypatch, seed):
    """Under the size gate pagerank runs its recurrence on the driver; it
    must give the shuffle loop's ranks (a gate of 0) to rel 1e-12, on a
    seeded graph with dangling nodes, a source-only node, parallel edges
    and a NULL src, dst or weight row. The loop's NULL rules hold: a NULL
    id is a node with the teleport floor, and a row with a NULL src or
    weight moves no mass. Rows are shuffled, so the driver's sorted
    summation order is exercised too."""
    import math
    import random

    from mitie_spark.operators import webgraph

    rng = random.Random(seed)
    rows = [
        (f"n{rng.randrange(30)}", f"n{rng.randrange(30)}",
         float(rng.randint(1, 9)) / rng.choice([1, 3, 7]))
        for _ in range(120)
    ]
    rows += [
        ("src_only", "n1", 2.0),                   # nothing links to it
        ("n2", "sink", 1.0), ("n2", "sink", 3.0),  # parallel edges, dangling
        (None, "n3", 1.0), ("n4", None, 2.0), ("n5", "n6", None),
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["src", "dst", "weight"]),
        "src string, dst string, weight double",
    ).repartition(3)

    def ranks():
        return {r.node: r.rank for r in webgraph.pagerank(df, iters=6).collect()}

    driver = ranks()
    monkeypatch.setattr(webgraph, "DRIVER_MAX_EDGES", 0)
    loop = ranks()
    assert driver.keys() == loop.keys()
    assert {None, "src_only", "sink"} <= driver.keys()
    for k in loop:
        assert math.isclose(driver[k], loop[k], rel_tol=1e-12), k
    # no edge reaches src_only or the NULL node: both keep the floor
    assert driver["src_only"] == driver[None] == (1 - 0.85) / len(driver)


# ---------------------------------------------------------------------------
# Synthesizer invariants + plan audits (the 100 TB shapes)
# ---------------------------------------------------------------------------


def test_synth_pages_covers_all_hosts(spark):
    from mitie_spark.queries_webkg import N_HOSTS, synth_pages
    from mitie_spark.operators.webgraph import extract_links, host_link_edges

    pages = synth_pages(spark, SF)
    edges = host_link_edges(
        extract_links(pages, F.concat("source", F.lit(".example.com")))
    ).toPandas()
    # every synthetic host appears as a link target (doc_id*7+13k+1 mod 20
    # covers all residues) and every source emits links
    assert len(set(edges["dst"])) == N_HOSTS
    assert set(edges["src"]) == {
        f"src{i}.example.com" for i in range(N_HOSTS)
    }
    assert int(edges["weight"].sum()) == 3 * pages.count()


from tests.planutil import explain_formatted as _plan


def test_jsonld_query_is_narrow_codegen(spark):
    """Synthesis + JSON-LD extraction is one shuffle-free codegen'd pass
    with the scan pruned to the columns the template needs."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["web_jsonld_triples"](spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # formatted explain stars codegen'd nodes ("* Project"); the whole
    # extraction must stay inside codegen
    assert "* Project" in plan and "* Filter" in plan


def test_host_links_single_shuffle(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["web_host_links"](spark, SF))
    assert plan.count("Exchange") <= 2  # partial agg + final (AQE may fuse)
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_pagerank_no_cartesian_no_python(spark):
    """The only product in the plan is the broadcast of the 1-row node
    count; edges x ranks stays a keyed join every iteration."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["web_host_pagerank"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


# ---------------------------------------------------------------------------
# Microdata / RDFa
# ---------------------------------------------------------------------------


def test_microdata_span_and_meta_shapes(spark):
    from mitie_spark.operators.webgraph import extract_microdata_triples

    rows = [
        (
            "u1",
            '<div itemscope itemtype="https://schema.org/Product">'
            '<span itemprop="name">Widget</span>'
            '<meta itemprop="sku" content="sku-1"/></div>',
        ),
        # meta-only name; no itemtype attribute -> no rdf:type row
        (
            "u2",
            '<div itemscope><meta itemprop="name" content="MetaName"/></div>',
        ),
        ("u3", "<p>no microdata at all</p>"),
    ]
    got = extract_microdata_triples(
        _pages(spark, rows), props=("name", "sku")
    ).toPandas()
    triples = set(zip(got["subj"], got["pred"], got["obj"]))
    assert triples == {
        ("u1", "rdf:type", "https://schema.org/Product"),
        ("u1", "schema:name", "Widget"),
        ("u1", "schema:sku", "sku-1"),
        ("u2", "schema:name", "MetaName"),
    }


def test_microdata_span_outranks_meta(spark):
    from mitie_spark.operators.webgraph import extract_microdata_triples

    html = (
        '<div itemscope><span itemprop="name">SpanWins</span>'
        '<meta itemprop="name" content="MetaLoses"/></div>'
    )
    got = extract_microdata_triples(
        _pages(spark, [("u", html)]), props=("name",)
    ).toPandas()
    assert list(got["obj"]) == ["SpanWins"]


def test_rdfa_triples(spark):
    from mitie_spark.operators.webgraph import extract_rdfa_triples

    rows = [
        (
            "u1",
            '<div vocab="https://schema.org/" typeof="Person">'
            '<span property="name">Ada</span></div>',
        ),
        # microdata itemprop must NOT satisfy the RDFa property pattern
        ("u2", '<div itemscope><span itemprop="name">NotRdfa</span></div>'),
    ]
    got = extract_rdfa_triples(_pages(spark, rows), props=("name",)).toPandas()
    triples = set(zip(got["subj"], got["pred"], got["obj"]))
    assert triples == {("u1", "rdf:type", "Person"), ("u1", "schema:name", "Ada")}


def test_extract_anchor_texts_pairing(spark):
    """Host and anchor must come from the SAME match — an empty anchor
    or an extra attribute must not shift later pairs."""
    from mitie_spark.operators.webgraph import extract_anchor_texts

    html = (
        '<a href="https://a.com/x">first</a>'
        '<a href="https://b.org/path?q=1">second text</a>'
        '<a href="https://c.net/">   </a>'
        '<a href="/relative">skipped</a>'
        '<a href="https://d.io/z">last</a>'
    )
    got = extract_anchor_texts(
        _pages(spark, [("u", html)]), F.lit("me.example")
    ).toPandas()
    pairs = list(zip(got["dst_host"], got["anchor"]))
    assert pairs == [
        ("a.com", "first"),
        ("b.org", "second text"),
        ("c.net", "   "),
        ("d.io", "last"),
    ]


def test_snapshot_diff_statuses(spark):
    import pandas as pd

    from mitie_spark.operators.recrawl import snapshot_diff

    old = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b", "c"], "content_md5": ["1", "2", "3"]})
    )
    new = spark.createDataFrame(
        pd.DataFrame({"url": ["b", "c", "d"], "content_md5": ["2", "9", "5"]})
    )
    got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {"a": "deleted", "b": "unchanged", "c": "changed", "d": "added"}


def test_recrawl_snapshot_diff_counts_consistent(spark):
    """added = docs%11; deleted = docs%7; changed = %5 survivors."""
    from mitie_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r.status: r.n_urls for r in
            QUERIES["recrawl_snapshot_diff"](spark, sf).collect()}
    import duckdb

    con = duckdb.connect()
    n, n7, n11, nch = con.execute(
        f"""SELECT COUNT(*),
                   SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0
                       THEN 1 ELSE 0 END)
            FROM read_parquet('{sf}/documents.parquet')"""
    ).fetchone()
    assert rows.get("deleted", 0) == n7
    assert rows.get("added", 0) == n11
    assert rows.get("changed", 0) == nch
    assert rows.get("unchanged", 0) == n - n7 - nch


def test_main_content_heuristics():
    from mitie_spark.functions.boilerplate import main_content

    page = (
        "<html><head><title>t</title><style>p{color:red}</style></head>"
        "<body><nav><a href='/'>home</a><a href='/a'>about</a></nav>"
        "<header><h1>masthead</h1></header>"
        "<div><a href='/1'>rel one</a> <a href='/2'>rel two</a></div>"
        "<p>the actual article body</p>"
        "<p>second paragraph &amp; more</p>"
        "<aside>ads here</aside>"
        "<footer>copyright</footer></body></html>"
    )
    got = main_content(page)
    assert got == "the actual article body\nsecond paragraph & more"
    # unclosed <head> must not swallow the page: <body> resets the drop
    assert main_content("<html><head><title>t</title><body><p>x</p>") == "x"
    # a text-dominant block with one link survives the density rule
    long = "<p>long paragraph with <a href='/x'>one link</a> inside a lot of prose around it</p>"
    assert "one link" in main_content(long)
    # empty / no-html inputs
    assert main_content("") == ""
    assert main_content("bare text") == "bare text"


def _hits_int_ref(edges, iters=3, scale=10**6):
    """Pure-Python int reference of hits_integer's exact semantics."""
    nodes = sorted({s for s, d, w in edges} | {d for s, d, w in edges})
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(iters):
        raw = {n: 0 for n in nodes}
        for s, d, w in edges:
            raw[d] += w * hub[s]
        tot = sum(raw.values())
        auth = {n: raw[n] * scale // tot for n in nodes}
        raw = {n: 0 for n in nodes}
        for s, d, w in edges:
            raw[s] += w * auth[d]
        tot = sum(raw.values())
        hub = {n: raw[n] * scale // tot for n in nodes}
    return auth, hub


def test_hits_integer_matches_hand_reference(spark):
    import pandas as pd

    from mitie_spark.operators.webgraph import hits_integer

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("d", "c", 5)]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst", "weight"])
    )
    got = {r.node: (r.auth_int, r.hub_int) for r in hits_integer(df, iters=3).collect()}
    auth, hub = _hits_int_ref(edges, iters=3)
    assert got == {n: (auth[n], hub[n]) for n in auth}
    # 'c' is the sink every hub points at: top authority, zero hub
    assert got["c"][0] == max(a for a, _ in got.values())
    assert got["c"][1] == 0


def test_main_content_review_regressions():
    from mitie_spark.functions.boilerplate import main_content

    # doctype / processing instructions are not content
    assert (
        main_content('<!DOCTYPE html><html><body><p>x</p></body></html>') == "x"
    )
    assert main_content('<?xml version="1.0"?><p>x</p>') == "x"
    # unterminated comment runs to EOF (HTML spec), not into the corpus
    assert main_content("<p>ok</p><!-- open comment <p>junk") == "ok"
    # an unclosed <a> must not poison the link density of later blocks
    got = main_content(
        '<body><p><a href="/x">broken<p>real article paragraph with '
        "plenty of prose text here</p></body>"
    )
    assert "real article paragraph" in got
    # raw-text scripts are skipped wholesale: a '<body>' literal inside
    # JS must neither reset the drop state nor leak code
    got = main_content(
        '<html><body><script>var s="<body>";if(a<b){}</script>'
        "<p>article</p></body></html>"
    )
    assert got == "article"
    # style content likewise
    assert main_content("<style>p{color:red}</style><p>x</p>") == "x"
    # unterminated script swallows to EOF rather than tag-parsing code
    assert main_content("<p>keep</p><script>var a=1;") == "keep"


def test_snapshot_diff_null_digest_presence(spark):
    import pandas as pd

    from mitie_spark.operators.recrawl import snapshot_diff

    old = spark.createDataFrame(
        pd.DataFrame({"url": ["u", "v"], "content_md5": [None, None]})
    )
    new = spark.createDataFrame(
        pd.DataFrame({"url": ["u", "v"], "content_md5": ["x", None]})
    )
    got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
    # presence wins: both urls exist in both snapshots; NULL digests read
    # 'changed' (SQL CASE semantics), never 'added'/'deleted'
    assert got == {"u": "changed", "v": "changed"}


def test_hits_integer_zero_iters_and_mass_collapse(spark):
    import pandas as pd

    from mitie_spark.operators.webgraph import hits_integer

    df = spark.createDataFrame(
        pd.DataFrame(
            [("a", "b", 1), ("c", "d", 1)], columns=["src", "dst", "weight"]
        )
    )
    # iters=0: uniform initial scores, no crash
    got = {r.node: (r.auth_int, r.hub_int) for r in hits_integer(df, iters=0).collect()}
    assert got == {n: (10**6, 10**6) for n in "abcd"}
    # scale=1 floors all mass to zero by the second half-step: the guard
    # returns all-zero scores instead of a division-by-zero NULL cascade
    got = {r.node: (r.auth_int, r.hub_int) for r in hits_integer(df, iters=2, scale=1).collect()}
    assert all(a == 0 and h == 0 for a, h in got.values())


def test_bloom_no_false_negatives_and_fpr(spark):
    import pandas as pd

    from mitie_spark.operators.bloom import bloom_build, bloom_probe

    seen = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://h/{i}" for i in range(500)]})
    )
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://h/{i}" for i in range(500)]
                + [f"https://new/{i}" for i in range(500)],
                "truly_seen": [True] * 500 + [False] * 500,
            }
        )
    )
    bloom = bloom_build(seen, m_bits=1 << 13, k=4)
    got = bloom_probe(bloom, probes, m_bits=1 << 13, k=4).collect()
    assert len(got) == 1000
    fp = sum(1 for r in got if r.maybe_seen and not r.truly_seen)
    fn = sum(1 for r in got if not r.maybe_seen and r.truly_seen)
    assert fn == 0  # structural: a Bloom filter can NEVER false-negative
    # 500 urls in 8192 bits at k=4: theoretical FPR ~0.3%; allow slack
    assert fp <= 25, fp
    # parameters must match between build and probe or hits are garbage:
    # probing with a different seed still yields zero false negatives?
    # no — it yields arbitrary results; assert the misuse is at least
    # detectable by its absurd miss rate on seen urls
    wrong = bloom_probe(bloom, probes, m_bits=1 << 13, k=4, seed="other").collect()
    assert sum(1 for r in wrong if not r.maybe_seen and r.truly_seen) > 400
