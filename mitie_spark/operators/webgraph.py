"""Embedded-structured-data extraction + hyperlink-graph analysis.

KG construction from Common-Crawl-style pages (the north rule's target)
has TWO triple sources: free text (MITIE's NER + relation detection —
`operators/extraction.py`) and the machine-readable statements pages
embed. Real CC-derived KGs (WebDataCommons, schema.org corpora) mine the
latter: JSON-LD ``<script type="application/ld+json">`` blocks, OpenGraph
``<meta property="og:*">`` tags, and the hyperlink graph itself, whose
host-level PageRank is the canonical web-scale authority signal.

Reference analog: MITIE's gigaword XML reader is its only "what the
page says about itself" reader (`gigaword_reader.h:18-92` pulls headline
and dateline zones out of markup); these operators are the CC-page
generalization of that zone extraction, plus the link-graph stage the
north rule's canonicalization story needs.

Scale shape (100 TB): every extractor here is a PURE Catalyst projection
— `regexp_extract` / `regexp_extract_all` / `get_json_object`, all
JVM-side inside whole-stage codegen, no Python in the scan — so each is
one narrow pass over the pages table with column pruning down to
``html``. PageRank is the standard iterative join-agg: per iteration one
shuffle keyed by ``dst`` plus a broadcast-size teleport term; ranks and
edges co-partition by key. The loop runs with AQE off (one job per
lineage cut, see ``_iterate``), so AQE's skew-join split does not act on
high-in-degree hosts inside it. The float variant takes the size gate
of the graph module's operators (``DRIVER_MAX_EDGES``, ``_probe``, both
defined here): an edge list under it is collected by the size probe
and iterated on the driver, and the loop runs only above it. The
integer-quantized variant exists for the cross-engine gate (bit-exact
under ANY summation order); production ranking at web scale uses the
float variant (integer mode documents its no-overflow bound:
``damp * scale * max_edge_weight < 2**63``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# JSON-LD payloads never contain '<' (the synthesizers and real-world
# emitters escape it as < inside strings per the HTML spec), so
# [^<]* is both safe and identical across Java-regex (Spark) and RE2
# (DuckDB) — unlike non-greedy dot, whose newline semantics differ.
JSONLD_RE = r'<script type="application/ld\+json">([^<]*)</script>'
# absolute http(s) links only; host chars per RFC 3986 reg-name subset
HREF_RE = r'<a href="https?://([a-z0-9.-]+)[/"]'
# host AND the visible anchor text of the same <a> element — one pattern
# so the two capture groups stay paired per match. WAT_LINK_RE is the
# full-URL variant (sources/wet_wat.pages_to_wat_records); the two MUST
# stay shape-identical apart from the capture span — wat_link_graph is
# gated against the same oracle as the HREF_RE-shaped link queries, so a
# drift between these patterns turns that gate red far from the cause.
_HOST_CHARS = r"[a-z0-9.-]+"
ANCHOR_RE = rf'<a href="https?://({_HOST_CHARS})[^"]*">([^<]*)</a>'
WAT_LINK_RE = rf'<a href="(https?://{_HOST_CHARS}[^"]*)">([^<]*)</a>'

#: default schema.org Article paths: predicate -> get_json_object path.
#: Paths use bracket form for the @-keys (Spark) — the DuckDB mirrors
#: live with the gated queries (queries_webkg.py).
ARTICLE_PATHS = {
    "rdf:type": "$['@type']",
    "schema:headline": "$.headline",
    "schema:author": "$.author.name",
    "schema:publisher": "$.publisher.name",
    "schema:wordCount": "$.wordCount",
}


def _html_str(df: DataFrame, html_col: str):
    """Pages tables carry html as binary (input_hint); accept either."""
    col = F.col(html_col)
    if dict(df.dtypes).get(html_col) == "binary":
        col = col.cast("string")
    return col


def extract_jsonld_triples(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    paths: dict[str, str] | None = None,
) -> DataFrame:
    """(url, subj, pred, obj) triples from the page's first JSON-LD block.

    subj is the page url (schema.org's implicit node id for an embedded
    entity); pred/obj come from ``paths``. Pages without a block, or with
    a block missing a path, contribute no row for it (get_json_object
    returns NULL on malformed JSON or absent keys — the crawl-hostile
    default). One narrow projection: regexp_extract + N get_json_object
    calls + one explode, no shuffle.
    """
    paths = ARTICLE_PATHS if paths is None else paths
    block = F.regexp_extract(_html_str(pages, html_col), JSONLD_RE, 1)
    pairs = F.array(
        *[
            F.struct(
                F.lit(pred).alias("pred"),
                F.get_json_object(F.col("_jsonld"), path).alias("obj"),
            )
            for pred, path in paths.items()
        ]
    )
    return (
        pages.withColumn("_jsonld", block)
        .filter(F.col("_jsonld") != "")
        .select(F.col(url_col).alias("subj"), F.explode(pairs).alias("po"))
        .select("subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
        .filter(F.col("obj").isNotNull())
    )


def extract_microdata_triples(
    pages: DataFrame,
    props: tuple[str, ...],
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(subj, pred, obj) triples from HTML5 microdata (itemscope blocks).

    Covers the two shapes real markup uses per WHATWG microdata: visible
    ``<span itemprop=X>text</span>`` and invisible
    ``<meta itemprop=X content=Y>``. ``itemtype`` becomes an rdf:type
    triple. Pure regexp projection + one explode — same 100 TB shape as
    the JSON-LD extractor. Pages without an itemscope yield no rows.
    """
    html = _html_str(pages, html_col)
    itemtype = F.regexp_extract(html, r'itemscope itemtype="([^"]*)"', 1)

    def prop(p: str):
        # span form first, meta form as fallback (both engines state the
        # same precedence in the gated mirror)
        span = F.regexp_extract(html, f'<span itemprop="{p}">([^<]*)<', 1)
        meta = F.regexp_extract(html, f'<meta itemprop="{p}" content="([^"]*)"', 1)
        return F.when(span != "", span).when(meta != "", meta)

    pairs = F.array(
        F.struct(
            F.lit("rdf:type").alias("pred"),
            F.when(itemtype != "", itemtype).alias("obj"),
        ),
        *[
            F.struct(F.lit(f"schema:{p}").alias("pred"), prop(p).alias("obj"))
            for p in props
        ],
    )
    return (
        pages.filter(html.rlike("itemscope"))
        .select(F.col(url_col).alias("subj"), F.explode(pairs).alias("po"))
        .select("subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
        .filter(F.col("obj").isNotNull())
    )


def extract_rdfa_triples(
    pages: DataFrame,
    props: tuple[str, ...],
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(subj, pred, obj) triples from RDFa Lite (typeof/property
    attributes). Same extraction discipline as microdata; ``typeof``
    becomes rdf:type."""
    html = _html_str(pages, html_col)
    typeof = F.regexp_extract(html, r'typeof="([^"]*)"', 1)

    def prop(p: str):
        v = F.regexp_extract(html, f'property="{p}">([^<]*)<', 1)
        return F.when(v != "", v)

    pairs = F.array(
        F.struct(
            F.lit("rdf:type").alias("pred"),
            F.when(typeof != "", typeof).alias("obj"),
        ),
        *[
            F.struct(F.lit(f"schema:{p}").alias("pred"), prop(p).alias("obj"))
            for p in props
        ],
    )
    return (
        pages.filter(html.rlike("typeof="))
        .select(F.col(url_col).alias("subj"), F.explode(pairs).alias("po"))
        .select("subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
        .filter(F.col("obj").isNotNull())
    )


def extract_og_meta(
    pages: DataFrame,
    properties: tuple[str, ...] = ("title", "locale", "type"),
    html_col: str = "html",
) -> DataFrame:
    """One column per requested OpenGraph property (og_<name>), absent
    tags as NULL. Pure regexp projection, no shuffle."""
    html = _html_str(pages, html_col)
    cols = list(pages.columns)
    for p in properties:
        pat = f'<meta property="og:{p}" content="([^"]*)"'
        cols.append(
            F.when(html.rlike(pat), F.regexp_extract(html, pat, 1))
            .alias(f"og_{p}")
        )
    return pages.select(*cols)


def extract_links(
    pages: DataFrame,
    src_host_col,
    html_col: str = "html",
) -> DataFrame:
    """(src_host, dst_host) one row per absolute outlink on the page.

    ``src_host_col`` is a Column (e.g. parse of the page url). Relative
    links carry no host and are skipped by construction of HREF_RE.
    """
    return pages.select(
        src_host_col.alias("src_host"),
        F.explode(
            F.regexp_extract_all(_html_str(pages, html_col), F.lit(HREF_RE), 1)
        ).alias("dst_host"),
    )


def extract_anchor_texts(
    pages: DataFrame,
    src_host_col,
    html_col: str = "html",
) -> DataFrame:
    """(src_host, dst_host, anchor) one row per absolute outlink — the
    classic web-KG surface-form signal: anchor texts pointing at a page
    are alias evidence for the entity it describes (the same role the
    reference's alias dictionary plays for mention linking, J4).

    Pairing discipline: host and text come from the SAME regexp match
    (two capture groups of one pattern extracted twice), so a page whose
    Nth link has an empty anchor cannot shift later pairs. Pure
    projection + one explode of the zipped arrays — no Python, no
    shuffle.
    """
    html = _html_str(pages, html_col)
    hosts = F.regexp_extract_all(html, F.lit(ANCHOR_RE), 1)
    texts = F.regexp_extract_all(html, F.lit(ANCHOR_RE), 2)
    return (
        pages.select(
            src_host_col.alias("src_host"),
            F.explode(F.arrays_zip(hosts.alias("h"), texts.alias("t"))).alias("a"),
        )
        .select(
            "src_host",
            F.col("a.h").alias("dst_host"),
            F.col("a.t").alias("anchor"),
        )
    )


def host_link_edges(links: DataFrame) -> DataFrame:
    """Aggregate page-level links to weighted host-graph edges."""
    return (
        links.groupBy(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        )
        .agg(F.count("*").alias("weight"))
    )


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


# Edge lists up to this size are solved on the driver (connected
# components, chinese whispers, float PageRank); larger ones run the
# distributed loop on _iterate. Tests set it to 0 to force the loop.
DRIVER_MAX_EDGES = 200_000


def _probe(e: DataFrame):
    """The size gate, one limit-collect: under the limit the rows ARE the
    edge list. Above it, None, and ``e`` stays persisted for the loop to
    take over, so the loop does not re-run the upstream (e.g. LSH
    blocking). The collect is Spark's incremental take: one job for the
    first partition, then one per round that scans 4x as many (2 jobs on
    a 2-5 partition edge list); it stops once it holds the limit, so a
    large graph is not scanned in full to be rejected."""
    e.persist()
    rows = e.limit(DRIVER_MAX_EDGES + 1).collect()
    if len(rows) > DRIVER_MAX_EDGES:
        return None
    e.unpersist(blocking=False)
    return rows


def _driver_frame(e: DataFrame, rows, cols, value_type=None) -> DataFrame:
    """Driver-side rows as a frame whose columns ``cols`` have the type of
    the edge list ``e``'s first column, its vertex id (the last one
    ``value_type`` instead, when given), through the Arrow path: a plain
    list goes through the pickle serializer, whose worker pool is
    separate from the warm Arrow one."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    types = [e.schema.fields[0].dataType] * len(cols)
    if value_type is not None:
        types[-1] = value_type
    schema = StructType([StructField(c, t) for c, t in zip(cols, types)])
    pdf = pd.DataFrame(rows, columns=cols)
    return e.sparkSession.createDataFrame(pdf, schema)


def _iterate(invariants, state0, step, iters, cut_every, finish, until=None):
    """The one eager lifecycle of the iterative graph operators.

    Loop-invariant frames are persisted in order (later ones derive from
    earlier ones; one persisted already, e.g. by a size probe, is taken
    over) and the first is materialized ONCE up front: the loop replays
    its inputs every pass, and at web scale that lineage is the whole
    link-extraction job (unpersisted, the gated PageRank measured 4.5x
    slower). ``step(state, i)`` runs pass i on a frame or a tuple of
    frames; a lineage cut localCheckpoints the state's last frame after
    every ``cut_every``-th pass (Catalyst analysis goes superlinear on
    nested join+agg chains), leaving the last pass to the result
    checkpoint when cut_every > 1. A stop rule ``until(state, nxt)`` goes
    with cut_every=1: state0 and every pass are cut, and a pass it holds
    for ends the loop and is dropped. The result ``finish(state)`` is
    local-checkpointed (unless a stop rule built it on cut frames) so the
    invariants can be unpersisted before returning, or on an error (a
    lazy persist leaks executor storage per call). On a multi-node
    cluster swap localCheckpoint for a reliable checkpoint dir if
    executor loss mid-query matters.

    AQE is off from the invariants' persist to the result checkpoint,
    and the caller's setting is put back on the way out, error or not.
    With AQE on, every exchange of a pass is a query stage that runs as
    its own job (the 5-pass PageRank of the pipeline's entity_rank
    stage ran 46 jobs, 7 with AQE off); off, each cut is one job over
    the whole pass. The price is AQE's runtime help inside the loop: no
    partition coalescing (passes run spark.sql.shuffle.partitions tasks)
    and no skew-join split, so a hub node's join partition is one task.
    The setting is session-wide, so a query another thread plans on
    the same session meanwhile runs without AQE too."""

    def cut(state):
        if isinstance(state, tuple):
            return (*state[:-1], cut(state[-1]))
        return state.localCheckpoint(eager=True)

    conf = invariants[0].sparkSession.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for f in invariants:
            if not f.is_cached:
                f.persist()
        invariants[0].count()
        state = state0 if until is None else cut(state0)
        for i in range(iters):
            nxt = step(state, i)
            if (i + 1) % cut_every == 0 and (cut_every == 1 or i + 1 < iters):
                nxt = cut(nxt)
            if until is not None and until(state, nxt):
                break
            state = nxt
        out = finish(state)
        return out if until is not None else out.localCheckpoint(eager=True)
    finally:
        for f in reversed(invariants):
            f.unpersist()
        conf.set("spark.sql.adaptive.enabled", aqe)


def _pagerank(edges, iters, r0, contrib, teleport, zero, rank_col):
    """The one PageRank plan -> (node, <rank_col>); callers supply only
    the arithmetic (r0 and teleport over n_nodes, contrib over r, weight
    and out_w, zero for a node no edge reaches).

    Dangling mass: nodes with no outlinks simply leak their damped mass
    (the classic "dangling nodes drop" formulation) — chosen because it
    needs no global redistribution term and both engines state it
    identically.

    Plan shape per iteration: edges ⋈ ranks on src (co-partitioned hash
    join), groupBy dst (one shuffle), left join back to the node list
    for the teleport floor; lineage cut every 5 passes. Node/edge frames
    are never collected.
    """
    nodes_p = _nodes(edges)
    n_nodes = nodes_p.agg(F.count("*").alias("n_nodes"))
    # the 1-row count is broadcast onto every node row (explicitly tiny)
    nodes = nodes_p.crossJoin(F.broadcast(n_nodes))
    outw = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    e = edges.join(outw, "src")

    def step(ranks, _):
        c = (
            e.join(ranks, e.src == ranks.node)
            .select(F.col("dst"), contrib.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_c"))
        )
        return nodes.join(c, nodes.node == c.dst, "left").select(
            "node", (teleport + F.coalesce(F.col("in_c"), zero)).alias("r")
        )

    return _iterate(
        [edges, nodes_p, e], nodes.select("node", r0.alias("r")), step, iters, 5,
        lambda ranks: ranks.select("node", F.col("r").alias(rank_col)),
    )


def pagerank_integer(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    damp_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in exact int64 arithmetic -> (node, rank_int).

    Ranks live in units of 1/scale; every division is integer (DIV), so
    the result is bit-identical under ANY partitioning or summation order
    — this is what lets an iterative graph algorithm pass the DuckDB
    value-hash gate (same convention as the quantized cosine queries).
    Overflow bound: damp_pct * scale * max(weight) must stay under 2**63
    (weight <= ~1.08e5 at the default scale); the float ``pagerank``
    below is the production path where that can't be guaranteed. Plan
    shape and dangling mass: see _pagerank.
    """
    return _pagerank(
        edges, iters, F.expr(f"CAST({scale} AS BIGINT) DIV n_nodes"),
        F.expr(f"CAST({damp_pct} AS BIGINT) * r * weight DIV (100 * out_w)"),
        F.expr(f"CAST({100 - damp_pct} AS BIGINT) * {scale} DIV (100 * n_nodes)"),
        F.lit(0), "rank_int",
    )


def _pagerank_driver(rows, iters, damping):
    """_pagerank's float recurrence on a collected (src, dst, weight) edge
    list, with numpy -> [(node, rank)].

    The loop's NULL rules hold: a NULL id is one node, which no edge
    reaches (the loop's node join never matches NULL); a row with a NULL
    src or weight moves no mass, and a NULL dst's share leaks. Nodes are
    indexed in sorted id order and the edges summed in (src, dst, weight)
    order, so the ranks do not depend on the order the rows arrive in."""
    import numpy as np

    ids = {v for s, d, _ in rows for v in (s, d)}
    nodes = sorted(ids - {None}) + [None] * (None in ids)
    n = len(nodes)
    if not n:
        return []
    idx = {v: i for i, v in enumerate(nodes)}
    live = sorted(  # a NULL dst sums into bin n, past the last node
        (idx[s], n if d is None else idx[d], float(w))
        for s, d, w in rows
        if s is not None and w is not None
    )
    e = np.array(live, dtype=np.float64).reshape(-1, 3)
    src, dst, w = e[:, 0].astype(np.intp), e[:, 1].astype(np.intp), e[:, 2]
    out_w = np.bincount(src, weights=w, minlength=n)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        c = damping * r[src] * w / out_w[src]
        r = (1.0 - damping) / n + np.bincount(dst, weights=c, minlength=n + 1)[:n]
    return list(zip(nodes, r.tolist()))


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Float PageRank (production variant) -> (node, rank: double).

    Size-gated like graph.connected_components (the standard
    broadcast-cutoff pattern): the size probe collects an edge list of at
    most DRIVER_MAX_EDGES rows, and the driver runs the same recurrence
    on it with numpy (_pagerank_driver), since the loop's planning,
    per-pass jobs and result checkpoint dominate wall time on small
    graphs. A larger edge list stays persisted and runs _pagerank's
    shuffle loop, the plan of pagerank_integer. Ranks sum to <= 1.0
    (dangling mass leaks, see _pagerank). Use this at real web scale
    where edge weights would overflow the integer gate variant.
    """
    from pyspark.sql.types import DoubleType

    e = edges.select("src", "dst", "weight")
    rows = _probe(e)
    if rows is not None:
        return _driver_frame(
            e, _pagerank_driver(rows, iters, damping), ["node", "rank"],
            DoubleType(),
        )
    return _pagerank(
        e, iters, F.lit(1.0) / F.col("n_nodes"),
        F.lit(damping) * F.col("r") * F.col("weight") / F.col("out_w"),
        F.lit(1.0 - damping) / F.col("n_nodes"), F.lit(0.0), "rank",
    )


def hits_integer(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) in exact int64 arithmetic
    -> (node, auth_int, hub_int).

    Scores live in units of 1/scale and each half-step L1-normalizes by
    integer division against the exact global sum (one broadcast 1-row
    aggregate), so — like pagerank_integer above — every summation order
    produces identical bits and the iterative result passes a DuckDB
    value-hash gate term-for-term.  L1 replaces the classical L2 norm
    because an integer square root has no SQL mirror; the RANKING, which
    is what HITS is consumed for, is unaffected by the choice of norm.

    Overflow bound: raw·scale ≤ W_tot·scale² must stay under 2**63,
    i.e. total edge weight W_tot < 2**63/scale² (~9.2e6 at the default
    scale).  A smaller scale buys headroom quadratically, down to the
    mass-collapse regime described at the tot=0 guard below.

    Plan shape per iteration: two (edges ⋈ scores → groupBy) rounds —
    auth from hubs on src, then hubs from the NEW auth on dst — each one
    co-partitioned join plus one keyed shuffle; the normalizing sums are
    1-row broadcasts.  Eager _iterate lifecycle.  Precondition: edges
    non-empty (an empty graph has no meaningful normalization).
    """
    nodes_p = _nodes(edges)
    init = F.lit(int(scale)).cast("long").alias("s")
    # tot=0 guard: on diffuse graphs (n_nodes approaching scale) integer
    # mass can floor to zero everywhere — all-zero scores are the honest
    # collapsed answer, NOT a division-by-zero NULL cascade; pick scale
    # comfortably above the node count to stay out of that regime
    norm = F.expr(
        f"CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)"
        f" ELSE COALESCE(raw, 0) * CAST({scale} AS BIGINT) DIV tot END"
    )

    def half_step(scores, on, to):
        raw = (
            edges.join(scores.withColumnRenamed("node", on), on)
            .select(to, (F.col("weight") * F.col("s")).alias("c"))
            .groupBy(to)
            .agg(F.sum("c").alias("raw"))
        )
        tot = raw.agg(F.sum("raw").alias("tot"))
        return (
            nodes_p.join(raw, nodes_p.node == raw[to], "left")
            .crossJoin(F.broadcast(tot))
            .select("node", norm.alias("s"))
        )

    def step(state, _):
        auth = half_step(state[1], "src", "dst")
        return auth, half_step(auth, "dst", "src")

    # cut lineage EVERY iteration: each half-step nests a join+agg+
    # broadcast under the previous pair, and Catalyst's analysis on that
    # self-referencing chain blows up superlinearly (a 6-iteration
    # float HITS hung outright before this) — per-iteration
    # materialization is the standard shape for iterative graph
    # algorithms anyway.  Only hub needs the cut (the state's last
    # frame): the cross-iteration chain flows auth_i -> hub_i ->
    # auth_{i+1}, so checkpointing hub bounds every plan at two
    # half-steps (auth_i is re-derived from the checkpointed hub_{i-1} by
    # the final join — one cheap recompute instead of one job per
    # half-step, which doubled the wall on small graphs)
    return _iterate(
        [edges, nodes_p], (nodes_p.select("node", init), nodes_p.select("node", init)),
        step, iters, 1,
        lambda s: s[0].withColumnRenamed("s", "auth_int")
        .join(s[1].withColumnRenamed("s", "hub_int"), "node"),
    )


def bfs_depths_integer(
    edges: DataFrame,
    seeds: list[str],
    iters: int = 3,
    inf: int = 10**9,
) -> DataFrame:
    """Fixed-iteration multi-source BFS -> (node, depth) for reached nodes.

    Depths are exact integers (the min-plus relaxation d'(v) = min(d(v),
    min over incoming edges d(u)+1), iterated ``iters`` times), so the
    result is bit-identical under any partitioning — the same property
    that lets pagerank_integer/hits_integer pass the DuckDB value-hash
    gate. Unreached nodes carry ``inf`` internally and are dropped from
    the output; capped adds (inf+1 vs inf) can never undercut a real
    depth because iters << inf.

    Fixed-iteration DENSE relaxation (every node re-relaxed per pass)
    mirrors the oracle's CTE chain term for term; at real web scale with
    unknown diameter you would iterate to a fixpoint over the changed-
    node frontier instead — this variant is the gate-friendly analog for
    diameter-bounded graphs (host graphs: diameters are single-digit).
    Plan per iteration: edges ⋈ depths on src (co-partitioned), one
    dst-keyed min shuffle, left-join back to the node list. Same EAGER
    _iterate lifecycle as pagerank, lineage cut every 5 passes (the
    exposed iters invites deep runs)."""
    edges = edges.select("src", "dst")
    nodes = _nodes(edges)
    d0 = nodes.select(
        "node",
        F.when(F.col("node").isin(list(seeds)), F.lit(0))
        .otherwise(F.lit(inf))
        .cast("bigint")
        .alias("d"),
    )

    def step(d, _):
        upd = (
            edges.join(d, edges.src == d.node)
            .select(F.col("dst"), (F.col("d") + F.lit(1)).alias("du"))
            .groupBy("dst")
            .agg(F.min("du").alias("du"))
        )
        return d.join(upd, d.node == upd.dst, "left").select(
            d.node,
            F.least(
                F.col("d"), F.coalesce(F.col("du"), F.lit(inf).cast("bigint"))
            ).alias("d"),
        )

    return _iterate(
        [edges, nodes], d0, step, iters, 5,
        lambda d: d.where(F.col("d") < inf).select("node", F.col("d").alias("depth")),
    )


def undirected_host_edges(edges: DataFrame) -> DataFrame:
    """Directed weighted edges -> distinct undirected (u, v) pairs with
    u < v (self-loops dropped). The canonical pre-step for triangle /
    clustering analytics."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


def triangle_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient ->
    (node, degree, n_triangles, clustering_ppm).

    Triangles enumerate once each via the ordered-wedge join (u < v < w:
    e1=(u,v) ⋈ e2=(v,w) ⋈ e3=(u,w)) — the standard orientation trick
    that bounds join fanout by the out-degree of the ordering, not the
    raw degree (at web scale order by degree instead of name so hubs
    land on the low-fanout side; the name order is what the SQL oracle
    can state identically). clustering_ppm = floor(1e6 * 2*tri /
    (deg*(deg-1))), pure integers, so the value hash is bit-stable.

    Plan shape: the undirected pair set shuffles once per join key;
    wedge and closure joins are plain hash joins (no cartesian); the
    per-node rollup is one explode + partial-agg shuffle."""
    und = undirected_host_edges(edges).persist()
    und.count()  # materialize once; three joins + degree read it
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "CASE WHEN degree < 2 THEN CAST(0 AS BIGINT)"
                " ELSE 2 * COALESCE(n_triangles, 0) * CAST(1000000 AS BIGINT)"
                " DIV (degree * (degree - 1)) END"
            ).alias("clustering_ppm"),
        )
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection -> (node, label).

    Every node starts labeled with itself; each pass relabels every node
    with the weighted-majority label of its (symmetrized) neighbors, ties
    broken by count DESC then label ASC — a DETERMINISTIC pure function
    of the previous labels, which is what lets an LPA land under the
    DuckDB value-hash gate (classic async LPA is run-order dependent and
    can't be mirrored). Isolated nodes keep their own label.

    Plan per pass: symmetrized edges ⋈ labels on the neighbor key, one
    (node, label) partial-agg shuffle, a per-node window top-1, left join
    back to the node list. Same eager _iterate lifecycle as
    pagerank."""
    from pyspark.sql.window import Window

    links = edges.where(F.col("src") != F.col("dst"))
    sym = (
        links.select("src", "dst", "weight")
        .unionAll(
            links.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
        .groupBy(F.col("src").alias("node"), F.col("dst").alias("neigh"))
        .agg(F.sum("weight").alias("w"))
    )
    nodes = _nodes(edges)
    win = Window.partitionBy("node").orderBy(
        F.desc("c"), F.asc("label")
    )

    def step(labels, _):
        cnt = (
            sym.join(
                labels.withColumnRenamed("node", "neigh"), "neigh"
            )
            .groupBy("node", "label")
            .agg(F.sum("w").alias("c"))
        )
        top = (
            cnt.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        return (
            nodes.join(labels, "node")
            .join(top, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )

    # each pass nests join+agg+window+two joins — cut lineage every 3
    # passes, more often than pagerank's lighter passes (a 6-iteration
    # HITS hung without per-iteration cuts)
    return _iterate(
        [sym, nodes], nodes.select("node", F.col("node").alias("label")), step,
        iters, 3, lambda labels: labels,
    )


def kcore_flags(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peeling -> (node, in_kcore, core_degree).

    Round i removes every node whose degree within the surviving
    subgraph is < k; after ``rounds`` synchronous passes the flags are
    exact integers (peeling is a pure function of the previous survivor
    set, so the result is bit-identical under any partitioning and
    mirrors an iterated SQL CTE chain). Fixed rounds rather than
    iterate-to-fixpoint for the same reason as bfs_depths_integer: the
    oracle states the same chain; host-graph cores stabilize in a
    handful of passes. core_degree is the survivor's degree among
    survivors (0 for peeled nodes).

    The k-core is the classic link-spam/community-strength signal on
    host graphs. Plan per round: one semi-join of the symmetrized edge
    set against survivors on each endpoint + one degree partial-agg;
    eager _iterate lifecycle as the other iterative operators here."""
    # symmetrize from the distinct u<v pair set (undirected_host_edges
    # owns the self-loop/dedup rules) — both directions of a distinct
    # pair set are distinct by construction, so no second dedup shuffle
    und = undirected_host_edges(edges)
    sym = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    nodes = _nodes(edges)

    def degree_among(alive, name):
        return (
            sym.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias(name))
        )

    def finish(alive):
        deg_final = degree_among(alive, "core_degree").withColumnRenamed("src", "node")
        return (
            nodes.join(alive.withColumn("in_kcore", F.lit(1)), "node", "left")
            .join(deg_final, "node", "left")
            .select(
                "node",
                F.coalesce("in_kcore", F.lit(0)).cast("int").alias("in_kcore"),
                F.coalesce("core_degree", F.lit(0))
                .cast("bigint")
                .alias("core_degree"),
            )
        )

    # every round's survivor set is cut: the next round and the final
    # degree both read it twice
    return _iterate(
        [sym, nodes], nodes,
        lambda alive, _: degree_among(alive, "d")
        .where(F.col("d") >= k).select(F.col("src").alias("node")),
        rounds, 1, finish,
    )
