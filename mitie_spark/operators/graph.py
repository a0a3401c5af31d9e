"""Distributed graph primitives — connected components on DataFrames.

Used for entity canonicalization (north rule: "connected-components
canonicalization"; reference precedent: the wordrep side-tool clusters word
vectors with a neighbor-graph + chinese-whispers pass,
/root/reference/tools/wordrep/src/main.cpp:197-256 — same shape: build
similarity edges, then find components).

Algorithm: iterative minimum-label propagation with pointer-jumping
("HashToMin"-style): each round every vertex takes the min component id over
itself and its neighbors, then labels are path-compressed by joining labels
onto themselves. Rounds needed: O(log(diameter)). Each round is two
shuffle-joins on the edge list — AQE handles skewed high-degree vertices
(celebrity aliases) by splitting skewed partitions. For 10^12-scale graphs
the same loop applies with edges bucketed by src; no driver-side state except
the convergence counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge lists up to this size are solved on the driver; larger ones run the
# distributed loop. Tests set it to 0 to force the distributed loop.
DRIVER_MAX_EDGES = 200_000


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
    ``DRIVER_MAX_EDGES`` edges runs the shuffle-join min-label loop. The
    size probe is a single ``limit(DRIVER_MAX_EDGES + 1).collect()`` job:
    if it comes back under the limit it IS the edge list, so the small path
    costs one job total."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .persist()  # the probe below materializes it; without this the
        # large path would re-execute the full upstream (e.g. an LSH
        # blocking pipeline) for the checkpoint after already shuffling it
        # for the probe
    )
    probe = e.limit(DRIVER_MAX_EDGES + 1).collect()

    if len(probe) <= DRIVER_MAX_EDGES:
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
        import pandas as pd

        rows = [(v, find(v)) for v in parent]
        id_type = e.schema["a"].dataType
        schema = StructType(
            [StructField("id", id_type), StructField("comp", id_type)]
        )
        # hand the local result back through the Arrow path: a plain list
        # goes through the pickle serializer, whose worker pool is separate
        # from the (already warm) Arrow one — first use pays a full
        # 32-worker spawn
        pdf = pd.DataFrame(rows, columns=["id", "comp"])
        e.unpersist(blocking=False)
        return edges.sparkSession.createDataFrame(pdf, schema)

    # materialize the edge list once — every iteration joins against it, and
    # without this the full upstream DAG (e.g. an LSH blocking + verify
    # pipeline) would re-execute per round
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    e.unpersist(blocking=False)
    vertices = und.select(F.col("a").alias("id")).distinct()
    labels = vertices.withColumn("comp", F.col("id"))

    for _ in range(max_iter):
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
            )
        )
        # pointer jumping: comp := comp(comp)
        jumped = (
            new_labels.alias("x")
            .join(
                new_labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("comp2")
                ).alias("y"),
                "comp",
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.coalesce(F.col("y.comp2"), F.col("x.comp")).alias("comp"),
            )
        )
        jumped = jumped.localCheckpoint(eager=True)  # truncate lineage per round
        changed = (
            labels.withColumnRenamed("comp", "old")
            .join(jumped, "id")
            .filter(F.col("old") != F.col("comp"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select("id", "comp")


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
    argmax per round, so it runs at any graph size).

    edges(src, dst[, weight]) undirected → (id, cluster). Unlike
    ``connected_components`` this cuts weakly-connected regions into
    densely-connected clusters.

    Size-gated like ``connected_components``: a dedup-group-sized edge
    list solves on the driver with the identical synchronous update rule
    (the distributed loop costs several scheduled jobs per round, which
    dominates wall time for small graphs)."""
    from pyspark.sql.window import Window

    w = F.col(weight) if weight else F.lit(1.0)
    e = (
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w")
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .persist()  # probe materializes it; without this the large path
        # would re-run the full upstream (e.g. blocking+verify) for the
        # checkpoint — same reason connected_components persists
    )
    probe = e.limit(DRIVER_MAX_EDGES + 1).collect()
    if len(probe) <= DRIVER_MAX_EDGES:
        import pandas as pd

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
        schema = StructType(
            [
                StructField("id", e.schema["a"].dataType),
                StructField("cluster", e.schema["a"].dataType),
            ]
        )
        pdf = pd.DataFrame(sorted(labels.items()), columns=["id", "cluster"])
        e.unpersist(blocking=False)
        return edges.sparkSession.createDataFrame(pdf, schema)

    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"), F.col("w"))
    ).localCheckpoint(eager=True)
    e.unpersist(blocking=False)  # the checkpoint is materialized; the
    # cached edges are no longer referenced
    vertices = und.select(F.col("a").alias("id")).distinct()
    labels = vertices.withColumn("lbl", F.col("id"))

    for _ in range(max_iter):
        scored = (
            und.join(
                labels.select(F.col("id").alias("b"), "lbl"), "b"
            )
            .groupBy("a", "lbl")
            .agg(F.sum("w").alias("wsum"))
        )
        win = Window.partitionBy("a").orderBy(F.desc("wsum"), F.asc("lbl"))
        best = (
            scored.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") == 1)
            .select(F.col("a").alias("id"), F.col("lbl").alias("new_lbl"))
        )
        new_labels = (
            labels.join(best, "id", "left")
            .select(
                "id", F.coalesce("new_lbl", "lbl").alias("lbl")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            labels.withColumnRenamed("lbl", "old")
            .join(new_labels, "id")
            .filter(F.col("old") != F.col("lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("lbl").alias("cluster"))
