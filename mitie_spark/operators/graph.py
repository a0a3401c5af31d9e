"""Distributed graph primitives — connected components on DataFrames.

Used for entity canonicalization (north rule: "connected-components
canonicalization"; reference precedent: the wordrep side-tool clusters word
vectors with a neighbor-graph + chinese-whispers pass,
/root/reference/tools/wordrep/src/main.cpp:197-256 — same shape: build
similarity edges, then find components).

Algorithm: iterative minimum-label propagation with pointer-jumping
("HashToMin"-style): each round every vertex takes the min component id over
itself and its neighbors, then labels are path-compressed by giving each
vertex its label's own label. Rounds needed: O(log(diameter)). Each round is
one join + min-aggregate over the edge list and one window keyed by label.
The loop runs on webgraph._iterate with AQE off, so a skewed high-degree
vertex (a celebrity alias) is not split across tasks inside it; the driver
path covers graphs up to webgraph.DRIVER_MAX_EDGES edges, the one size gate
(``webgraph._probe``) it shares with float PageRank. For 10^12-scale graphs the
same loop applies with edges bucketed by src; no driver-side state except
the convergence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mitie_spark.operators.webgraph import _driver_frame, _iterate, _probe


def _relabel_loop(e: DataFrame, update, max_iter: int, col: str) -> DataFrame:
    """The shuffle loop of both operators, on webgraph._iterate: every
    vertex of the symmetric edge list ``und`` starts with its own id as
    label ``col``, and ``update(und, labels)`` runs passes until no label
    changes. A pass carries each vertex's previous label as ``old``, so
    the stop rule scans one cut pass instead of joining it to the last."""
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"), *e.columns[2:])
    )
    vertices = und.select(F.col("a").alias("id")).distinct()
    return _iterate(
        [e, und], vertices.withColumn(col, F.col("id")),
        lambda labels, _: update(und, labels), max_iter, 1,
        lambda labels: labels.select("id", col),
        until=lambda _, n: n.filter(F.col("old") != F.col(col)).isEmpty(),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """edges(src, dst) undirected → (id, component) with component = min
    vertex id in the component. Vertex ids must be orderable (long/string).

    Size-gated hybrid (the standard broadcast-cutoff pattern): an edge list
    small enough to broadcast is solved with driver-side union-find — the
    distributed loop costs O(log diameter) scheduled rounds, which dominates
    wall time for dedup-group-sized graphs — while anything above
    ``webgraph.DRIVER_MAX_EDGES`` edges runs the shuffle-join min-label loop on
    webgraph._iterate, until no label changes. The small path costs only
    the size probe's collect."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    probe = _probe(e)

    if probe is not None:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in probe:
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return _driver_frame(e, [(v, find(v)) for v in parent], ["id", "comp"])

    def step(und, labels):
        # candidate: min over neighbors' current labels
        nbr_min = (
            und.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "id")
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("old"),
            )
        )
        # pointer jumping: comp := comp(comp), in one scan of new_labels (a
        # self-join plans it twice, und scan and min-aggregate included:
        # the two sides' checkpointed labels never match as one exchange).
        # Each row goes out keyed by its label, to be relabelled, and by
        # its id, carrying its label as comp2 to the rows keyed there.
        null = F.lit(None).cast(new_labels.schema["id"].dataType)
        both = new_labels.select(F.explode(F.array(
            F.struct(F.col("comp").alias("k"), "id", "old", null.alias("comp2")),
            F.struct(F.col("id").alias("k"), null.alias("id"), null.alias("old"),
                     F.col("comp").alias("comp2")),
        )).alias("r")).select("r.*")
        return both.select(
            "id",
            F.coalesce(F.max("comp2").over(Window.partitionBy("k")), F.col("k"))
            .alias("comp"),
            "old",
        ).filter(F.col("id").isNotNull())

    return _relabel_loop(e, step, max_iter, "comp")


def chinese_whispers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Distributed chinese-whispers clustering: each round every vertex
    adopts the label with the greatest total edge weight among its
    neighbors (deterministic tie-break: min label). Synchronous variant of
    the reference's word-cluster pass (dlib chinese_whispers over the kNN
    graph, /root/reference/tools/wordrep/src/main.cpp:197-256 — there
    sequential with random visit order; here one shuffle-join + windowed
    argmax per round on webgraph._iterate, so it runs at any graph size).
    It stops at a fixpoint (no label changes) or after ``max_iter``
    rounds, whichever comes first. Synchronous updates can oscillate
    instead of converging — on the seeded 150-edge weighted graph of
    test_chinese_whispers_shuffle_loop_matches_driver_loop every call
    runs all 20 rounds — and then the result is round ``max_iter``'s
    labelling, not a fixpoint.

    edges(src, dst[, weight]) undirected → (id, cluster). Unlike
    ``connected_components`` this cuts weakly-connected regions into
    densely-connected clusters.

    Size-gated like ``connected_components``: a dedup-group-sized edge
    list solves on the driver with the identical synchronous update rule
    (the distributed loop costs several scheduled jobs per round, which
    dominates wall time for small graphs)."""
    w = F.col(weight) if weight else F.lit(1.0)
    e = (
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w")
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
    )
    probe = _probe(e)
    if probe is not None:
        nbrs: dict = {}
        for row in probe:
            a, b, wt = row["a"], row["b"], float(row["w"])
            nbrs.setdefault(a, []).append((b, wt))
            nbrs.setdefault(b, []).append((a, wt))
        labels = {v: v for v in nbrs}
        for _ in range(max_iter):
            # synchronous round: all updates read the previous labels
            new = {}
            changed = 0
            for v, ns in nbrs.items():
                wsum: dict = {}
                for u, wt in ns:
                    lbl = labels[u]
                    wsum[lbl] = wsum.get(lbl, 0.0) + wt
                best = min(
                    wsum.items(), key=lambda kv: (-kv[1], kv[0])
                )[0]
                new[v] = best
                if best != labels[v]:
                    changed += 1
            labels = new
            if changed == 0:
                break
        return _driver_frame(e, sorted(labels.items()), ["id", "cluster"])

    win = Window.partitionBy("a").orderBy(F.desc("wsum"), F.asc("lbl"))

    def step(und, labels):
        scored = (
            und.join(
                labels.select(F.col("id").alias("b"), "lbl"), "b"
            )
            .groupBy("a", "lbl")
            .agg(F.sum("w").alias("wsum"))
        )
        best = (
            scored.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") == 1)
            .select(F.col("a").alias("id"), F.col("lbl").alias("new_lbl"))
        )
        return labels.join(best, "id", "left").select(
            "id",
            F.coalesce("new_lbl", "lbl").alias("lbl"),
            F.col("lbl").alias("old"),
        )

    labels = _relabel_loop(e, step, max_iter, "lbl")
    return labels.withColumnRenamed("lbl", "cluster")
