"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — the baseline. Query set is
  broadcast; candidates are scored in one narrow pass (JVM-side
  zip_with/aggregate expressions, no Python) and ranked per query.
- ``ivf_topk``: IVF-style ANN — k-means-lite centroids (deterministic
  seeding, Lloyd iterations as DataFrame aggregations), candidates searched
  only within the ``nprobe`` closest cells. At 100 TB the cell assignment is
  the partition key: cells are written bucketed-by-cell so a query touches
  nprobe buckets instead of the full corpus.
- ``cosine_near_duplicates``: random-hyperplane LSH blocking + exact cosine
  verify — the embedding-space near-dup detector.

Reference precedent for LSH-bucketed neighbor search: the wordrep k-NN tool
(/root/reference/tools/wordrep/src/main.cpp:197-256).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# Default quantization for oracle-gated cosine scoring: with |x| ≤ O(1)
# embeddings and dims in the hundreds, floor(x·1e6)² sums stay far below
# 2^53, so the dot products are exact INTEGERS under any summation order —
# NumPy's pairwise batch sum here and DuckDB's sequential fold produce the
# same bits by construction, and the scoring runs as one Arrow batch
# instead of the interpreted F.aggregate folds this replaced (which were
# the last HOF lambdas in a gated hot path).
QUANT_SCALE = 1_000_000.0

DRIVER_MAX_ROWS = 100_000  # cosine_near_duplicates' driver-path size gate


def _cos_pair_udf(scale: float | None):
    """(vec, vec) → cosine, one NumPy batch per Arrow chunk.

    ``scale`` set: cosine of floor(x·scale)-quantized vectors — every
    product is integer-valued and exact in float64, so the value is
    engine-independent (the oracle applies the identical FLOOR(x·scale)
    transform). ``scale`` None: raw float64 cosine (non-gated paths)."""

    @F.pandas_udf("double")
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        A = np.stack(a.map(np.asarray).values).astype(np.float64)
        B = np.stack(b.map(np.asarray).values).astype(np.float64)
        if scale is not None:
            A = np.floor(A * scale)
            B = np.floor(B * scale)
        dots = (A * B).sum(axis=1)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        # zero-norm guard: quantization can floor a tiny-magnitude vector
        # to all zeros (components in [0, 1/scale)), and 0/0 would leak a
        # platform-shaped NaN into ranking; emit an explicit NaN — Arrow
        # surfaces it as SQL NULL, the same value the F.aggregate
        # expressions this UDF replaced produced for 0/0
        denom = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom == 0.0, np.nan, dots / denom)
        return pd.Series(cos)

    return cos_udf


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = None,
    quantize_scale: float | None = None,
) -> DataFrame:
    """→ (qid, cid, cos, rk) — exact top-k by cosine, vec_id tie-break.
    Scoring is one vectorized Arrow batch over the broadcast-joined pairs.
    ``round_decimals``: round cos BEFORE ranking. ``quantize_scale``: rank
    the cosine of floor(x·scale)-quantized vectors — integer-exact dots
    make the value engine-independent (the oracle-gated form; see
    _cos_pair_udf)."""
    # null embeddings cannot be scored (np.stack over a batch containing
    # None raises and kills the whole task); drop them on BOTH sides like
    # assign_cells does — a vector-less row has no cosine to anything
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    )
    c = candidates.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
    )
    cos = _cos_pair_udf(quantize_scale)("qe", "ce")
    if round_decimals is not None:
        cos = F.round(cos, round_decimals)
    scored = c.join(F.broadcast(q)).select("qid", "cid", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    )


def train_centroids(
    df: DataFrame, n_cells: int = 16, vec_col: str = "embedding",
    iters: int = 2, seed: int = 7,
) -> np.ndarray:
    """k-means-lite: deterministic sample init + `iters` Lloyd rounds, each a
    single groupBy aggregation over the assignment (scales: only centroids
    come back to the driver). The input is persisted for the loop — each
    round re-scans it, and recomputing an expensive upstream per round
    would multiply its cost."""
    df = df.select(vec_col).persist()
    probe = df.first()
    if probe is None:
        raise ValueError("train_centroids: empty input (no vectors)")
    dim = len(probe[0])
    init = (
        df.select(vec_col)
        .orderBy(F.md5(F.concat_ws(",", F.col(vec_col).cast("array<string>"))))
        .limit(n_cells)
        .collect()
    )
    cents = np.array([r[0] for r in init], dtype=np.float64)
    for _ in range(iters):
        assigned = assign_cells(df, cents, vec_col=vec_col)
        sums = (
            assigned.select(
                "cell", F.posexplode(vec_col).alias("i", "v")
            )
            .groupBy("cell", "i")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = np.array(cents)
        bucket = {}
        for r in sums:
            bucket.setdefault(r["cell"], {})[r["i"]] = (r["s"], r["n"])
        for cell, comps in bucket.items():
            vec = np.array([comps[i][0] / comps[i][1] for i in range(dim)])
            new[cell] = vec
        cents = new
    df.unpersist(blocking=False)  # centroids are materialized ndarrays
    return cents


def assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Add a `cell` column: index of the nearest centroid (batched NumPy).
    Null embeddings are dropped (a null row would make np.stack ragged and
    kill the task; a vector-less row cannot be assigned a cell anyway)."""
    df = df.filter(F.col(vec_col).isNotNull())
    cents = centroids.astype(np.float64)

    @F.pandas_udf("int")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):  # Arrow can hand a UDF an empty batch
            return pd.Series([], dtype="int32")
        M = np.stack(vecs.map(np.asarray).values).astype(np.float64)
        # nearest by euclidean distance: argmin ||x||² - 2x·c + ||c||²
        d = (M * M).sum(1)[:, None] - 2 * M @ cents.T + (cents * cents).sum(1)[None, :]
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return df.withColumn("cell", cell_udf(F.col(vec_col)))


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_scale: float | None = None,
) -> DataFrame:
    """ANN: search only the nprobe nearest cells per query."""
    queries = queries.filter(F.col(vec_col).isNotNull())
    cents = train_centroids(candidates, n_cells=n_cells, vec_col=vec_col)
    c = assign_cells(candidates, cents, vec_col=vec_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"), "cell"
    )

    cents_local = cents

    @F.pandas_udf("array<int>")
    def probe_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="object")
        M = np.stack(vecs.map(np.asarray).values).astype(np.float64)
        d = (
            (M * M).sum(1)[:, None]
            - 2 * M @ cents_local.T
            + (cents_local * cents_local).sum(1)[None, :]
        )
        order = np.argsort(d, axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )
    scored = c.join(F.broadcast(q), "cell").select(
        "qid",
        "cid",
        _cos_pair_udf(quantize_scale)("qe", "ce").alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    )


def _score_one_bucket(ids, X, thr, out_a, out_b, out_c):
    """All in-bucket pairs with cosine ≥ thr → appended to the out_* lists.
    Chunked matmul bounds memory to CH·|bucket| scores on a degenerate
    bucket. Shared by the distributed partition scorer and the probe-gated
    driver path so both produce bit-identical pairs."""
    m = len(ids)
    norms = np.sqrt((X * X).sum(axis=1))
    CH = 1024
    j_idx = np.arange(m)
    for s in range(0, m, CH):
        e = min(s + CH, m)
        G = X[s:e] @ X.T
        denom = norms[s:e, None] * norms[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            C = np.where(denom == 0.0, np.nan, G / denom)
        # strict upper triangle in GLOBAL indices: each unordered pair
        # scored exactly once per bucket (NaN >= thr is False, so
        # zero-norm rows drop here like they did under the old filter)
        mask = (C >= thr) & (j_idx[None, :] > (s + np.arange(e - s))[:, None])
        rr, cc = np.nonzero(mask)
        if len(rr):
            ia, ib = ids[s + rr], ids[cc]
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
            keep = lo != hi
            out_a.append(lo[keep])
            out_b.append(hi[keep])
            out_c.append(C[rr, cc][keep])


def _near_dup_driver(nn, thr, id_col, vec_col, seed, n_planes, signatures):
    """Driver-local form of cosine_near_duplicates for probe-passed small
    inputs: one toPandas, the shared signature + per-bucket scorers, one
    Arrow createDataFrame back. Identical output to the distributed path
    (same planes, same blocking, same chunked-matmul arithmetic)."""
    pdf = nn.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    X = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, X.shape[1]))
    sig = signatures(X, planes)  # (n, bands)
    n, n_bands = sig.shape
    rows = np.repeat(np.arange(n), n_bands)
    flat = sig.ravel()
    order = np.argsort(flat, kind="stable")
    flat, rows = flat[order], rows[order]
    cuts = np.flatnonzero(np.diff(flat)) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(flat)]))
    out_a, out_b, out_c = [], [], []
    for s, e in zip(starts, ends):
        if e - s >= 2:
            sel = rows[s:e]
            _score_one_bucket(ids[sel], X[sel], thr, out_a, out_b, out_c)
    if out_a:
        res = pd.DataFrame(
            {
                "id_a": np.concatenate(out_a).astype(np.int64),
                "id_b": np.concatenate(out_b).astype(np.int64),
                "cos": np.concatenate(out_c),
            }
        )
        # same dedup rule as the distributed groupBy: max over the
        # bit-identical per-band scores
        res = res.groupby(["id_a", "id_b"], as_index=False)["cos"].max()
    else:
        res = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
    return nn.sparkSession.createDataFrame(
        res, schema="id_a long, id_b long, cos double"
    )


def cosine_near_duplicates(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    center: "np.ndarray | None" = None,
) -> DataFrame:
    """Random-hyperplane LSH: sign-bit signatures → banded bucket grouping →
    exact cosine verify ≥ threshold, scored per bucket with a local NumPy
    matmul.

    ``center``: optional vector subtracted before projection (BLOCKING
    only — verification still scores raw cosine). All-positive vector
    families (count vectors, ReLU embeddings) have heavily biased sign
    bits: most rows share a handful of sign patterns, buckets collapse,
    and the bucket join degenerates toward quadratic. Centering on the
    (approximate) data mean de-biases the bits; since near-identical
    vectors stay near-identical after the shift, true near-dups still
    collide and the exact verify keeps the output sound.

    Probe-gated driver path (the dedup_components pattern): at or below
    ``DRIVER_MAX_ROWS`` vectors the whole computation — same
    signatures, same per-bucket chunked matmul, bit-identical output —
    runs locally in one toPandas + NumPy pass: at small scale the Spark
    form's wall is pure fixed cost (two python-worker stages + a 160 MB
    vector shuffle at sf0.1), measured 4-5x the local pass. Above the
    probe the distributed path runs; callers should persist the input
    upstream (the probe adds one bounded count job over it)."""
    r_planes = n_planes // bands
    if not (1 <= r_planes <= 32):
        raise ValueError(
            f"planes-per-band must be in [1, 32], got {r_planes} "
            f"(n_planes={n_planes}, bands={bands})"
        )
    shift = None if center is None else np.asarray(center, dtype=np.float64)

    # MSB-first bit weights, matching the sequential (v << 1) | bit fold
    _bit_w = (1 << np.arange(r_planes - 1, -1, -1)).astype(np.int64)
    # band index in the high bits, clear of the ≤32 value bits — a plain
    # (b << 16) | v overflowed int32 above 16 planes per band and collided
    # buckets across bands at 17-30
    _band_hi = (np.arange(bands, dtype=np.int64) << 48)[None, :]

    def _signatures(M: np.ndarray, planes: np.ndarray) -> np.ndarray:
        """(n, dim) float64 → (n, bands) int64 band signatures; the ONE
        implementation both the driver path and the executor UDF call, so
        the two paths block identically by construction."""
        if shift is not None:
            M = M - shift
        bits = (M @ planes.T) > 0  # (n, n_planes)
        vals = bits.reshape(len(M), bands, r_planes).astype(np.int64) @ _bit_w
        return _band_hi | vals  # (n, bands)

    nn = df.filter(F.col(vec_col).isNotNull())
    n_rows = nn.limit(DRIVER_MAX_ROWS + 1).count()
    if n_rows == 0:
        raise ValueError("cosine_near_duplicates: empty input (no vectors)")
    if n_rows <= DRIVER_MAX_ROWS:
        return _near_dup_driver(
            nn, threshold, id_col, vec_col, seed, n_planes, _signatures
        )

    probe = nn.select(vec_col).first()
    dim = len(probe[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf("array<long>")
    def band_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="object")
        M = np.stack(vecs.map(np.asarray).values).astype(np.float64)
        return pd.Series(list(_signatures(M, planes)))

    # per-bucket local verify: each signature row CARRIES its vector, so
    # ONE shuffle (hash-partition by bucket, vectors travel bands× each)
    # lands every bucket's vectors in one partition where a NumPy matmul
    # scores all in-bucket pairs locally. This replaces the previous
    # 4-stage shape (bucket self-join → pair distinct → two per-pair
    # vector rejoins → per-pair verify UDF) that shipped TWO full vectors
    # per candidate pair through an exchange — measured 12s intrinsic at
    # sf0.1 for 376 output rows; the per-bucket matmul does the identical
    # pair set with the identical arithmetic (integer-valued count-vector
    # dots are exact under any summation order) in a fraction of the wall.
    # A degenerate oversized bucket is quadratic under BOTH shapes; the
    # chunked matmul at least bounds its memory to CH·|bucket| scores at a
    # time, and fine-grained band signatures (8+ planes/band) plus
    # centering keep buckets small by construction.
    thr = threshold

    def _score_partition(batches):
        """One partition = many hash-co-located buckets. Grouping locally
        with one argsort replaces a per-group applyInPandas round-trip —
        thousands of ~20-row buckets cost milliseconds this way where the
        per-group Arrow exchange dominated the operator's wall. The
        partition's rows are concatenated in memory: that is the same
        bound applyInPandas needs for its largest group, controlled by
        spark.sql.shuffle.partitions like any other shuffle."""
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        buckets = pdf["bucket"].to_numpy()
        order = np.argsort(buckets, kind="stable")
        buckets = buckets[order]
        ids = pdf["id"].to_numpy()[order]
        X = np.stack(pdf["vec"].map(np.asarray).values).astype(np.float64)[order]
        # group boundaries of the sorted bucket ids
        cuts = np.flatnonzero(np.diff(buckets)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(buckets)]))
        out_a, out_b, out_c = [], [], []
        for s, e in zip(starts, ends):
            if e - s >= 2:
                _score_one_bucket(ids[s:e], X[s:e], thr, out_a, out_b, out_c)
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a).astype(np.int64),
                    "id_b": np.concatenate(out_b).astype(np.int64),
                    "cos": np.concatenate(out_c),
                }
            )

    sigvec = nn.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(band_udf(F.col(vec_col))).alias("bucket"),
    )
    n_part = df.sparkSession.sparkContext.defaultParallelism
    scored = sigvec.repartition(n_part, "bucket").mapInPandas(
        _score_partition, schema="id_a long, id_b long, cos double"
    )
    # a pair colliding in several bands is scored once per band with
    # bit-identical arithmetic; max() is a deterministic dedup and the
    # aggregated frame is output-sized (post-threshold), not candidate-sized
    return scored.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))
