"""Count-min sketch (A1) — distributed port of the reference's approximate
counter.

Reference: /root/reference/mitielib/include/mitie/count_min_sketch.h:16-355 —
8 hash rows × W buckets, increment/get_count = min over rows, hashes =
dlib::hash(item, seed r) for r in 0..7 (murmur x86-32). The reference uses
it to bound RAM for corpus-scale GROUP BY on one machine (SURVEY.md §2.4);
Spark normally makes it unnecessary (exact shuffle aggregation), but the
sketch is still the right tool when the *result* must stay tiny — e.g. a
driver-side frequency oracle over 10^12 tokens. Here it is a distributed
aggregator: each partition folds its tokens into a local NumPy sketch and
the (num_hashes × W) arrays are added together in a treeReduce — sketches
are linear, so the merge is exact.
"""

from __future__ import annotations

import math as _math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mitie_spark.functions.hashing import dlib_string_hash


class CountMinSketch:
    """Same defaults as the reference (8 hashes; reference default W=1e6,
    wordrep uses 5e6 — count_min_sketch.h:35-36, main.cpp:40)."""

    def __init__(self, hash_table_size: int = 1_000_000, num_hashes: int = 8):
        self.counts = np.zeros((num_hashes, hash_table_size), dtype=np.int64)
        self.total = 0

    def increment(self, item: str, amount: int = 1) -> None:
        w = self.counts.shape[1]
        for r in range(self.counts.shape[0]):
            self.counts[r, dlib_string_hash(item, r) % w] += amount
        self.total += amount

    def get_count(self, item: str) -> int:
        w = self.counts.shape[1]
        return int(
            min(
                self.counts[r, dlib_string_hash(item, r) % w]
                for r in range(self.counts.shape[0])
            )
        )

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self.counts += other.counts
        self.total += other.total
        return self


def sketch_token_counts(
    df: DataFrame,
    text_col: str = "text",
    hash_table_size: int = 100_000,
    num_hashes: int = 8,
    merge_fanin: int = 8,
) -> CountMinSketch:
    """Distributed sketch over whitespace tokens of ``text_col``: one local
    sketch per partition, exact linear tree merge. The merge is expressed as
    DataFrame stages (mapInPandas builds a sketch blob per partition,
    groupBy+applyInPandas sums blobs executor-side in groups of
    ``merge_fanin``) so the whole job rides the Arrow worker pool — the RDD
    treeReduce equivalent moves the same bytes but pays a separate pickle
    worker-pool spawn. The driver receives ≤ ``merge_fanin`` fixed-size
    arrays regardless of corpus size."""
    import pandas as pd

    shape = (num_hashes, hash_table_size)

    def build(batches):
        local = CountMinSketch(hash_table_size, num_hashes)
        # cache token hashes within the partition (heavy reuse in web text)
        from functools import lru_cache

        w = hash_table_size

        @lru_cache(maxsize=500_000)
        def idxs(tok):
            return tuple(dlib_string_hash(tok, r) % w for r in range(num_hashes))

        rs = np.arange(num_hashes)
        pid = 0
        for pdf in batches:
            if len(pdf):
                pid = int(pdf["pid"].iloc[0])
            for text in pdf[text_col]:
                # single-space split, matching the exact aggregate the gate
                # compares against (str.split() on any whitespace would make
                # the sketch UNDERCOUNT a token like 'foo\tbar' that the
                # exact side treats as one token)
                for tok in (text or "").split(" "):
                    if not tok:
                        continue
                    local.counts[rs, idxs(tok)] += 1
                    local.total += 1
        yield pd.DataFrame(
            {
                "k": [pid % merge_fanin],
                "sketch": [local.counts.tobytes()],
                "total": [local.total],
            }
        )

    def merge_group(pdf):
        acc = np.zeros(shape, dtype=np.int64)
        for blob in pdf["sketch"]:
            acc += np.frombuffer(blob, dtype=np.int64).reshape(shape)
        return pd.DataFrame(
            {"sketch": [acc.tobytes()], "total": [int(pdf["total"].sum())]}
        )

    # tasks sized by compute (hashing), not bytes: a single-row-group scan
    # would otherwise build the whole sketch on one core
    par = df.sparkSession.sparkContext.defaultParallelism
    rows = (
        df.select(text_col)
        .repartition(par)
        # partition id as the merge key: totals-based keys collapse to one
        # group on uniform corpora (equal partition token counts),
        # serializing the merge
        .withColumn("pid", F.spark_partition_id())
        .mapInPandas(build, "k int, sketch binary, total long")
        .groupBy("k")
        .applyInPandas(merge_group, "sketch binary, total long")
        .collect()
    )
    out = CountMinSketch(hash_table_size, num_hashes)
    for r in rows:
        out.counts += np.frombuffer(r["sketch"], dtype=np.int64).reshape(shape)
        out.total += int(r["total"])
    return out


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch — pure-Catalyst, bit-exact registers.
# ---------------------------------------------------------------------------

HLL_P = 8  # register-index bits
HLL_M = 1 << HLL_P  # 256 registers
HLL_W_BITS = 24  # remaining hash bits feeding rho (32-bit hash)
HLL_RHO_MAX = HLL_W_BITS + 1
#: alpha_256 = 0.7213 / (1 + 1.079/256), in parts-per-million. Any fixed
#: rational works — the estimate just has to be STATED identically in
#: both engines.
HLL_ALPHA_PPM = 718272
#: integer numerator of the raw estimator: alpha_ppm * m^2 * 2^25 (the
#: 2^25 clears the fixed-point scale of s_int below). ~1.58e18 < 2^63.
HLL_EST_NUM = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << HLL_RHO_MAX)
#: linear-counting table: lc[v] = round(m * ln(m / v)), v = 1..m. libm
#: runs ONCE here at import; the query plans on both engines only ever
#: see these integer literals, so no runtime log() can diverge.
HLL_LC_TABLE = [
    int(HLL_M * _math.log(HLL_M / v) + 0.5) for v in range(1, HLL_M + 1)
]


def hll_distinct(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """HyperLogLog cardinality estimate per group -> (*group_cols,
    n_zero_buckets, hll_raw, hll_est). Flajolet et al. 2007, with the
    standard linear-counting small-range branch (raw <= 2.5m and empty
    registers exist); the 32-bit large-range branch is omitted (at n
    approaching 2^32 use a 64-bit hash — the gate corpora are nowhere
    near).

    Everything is integer arithmetic over md5-derived bits (the repo's
    md5->int mirror convention), so the estimate is bit-identical under
    any partitioning/summation order — a SKETCH that passes the DuckDB
    value-hash gate. s_int is the fixed-point harmonic-mean denominator:
    sum over all m registers of 2^(25-rho), empty registers contributing
    2^25 exactly.

    Scale shape: one partial-agg shuffle to (group, bucket) registers —
    the state per group is bounded at m rows regardless of corpus size
    (THE point of HLL at 100 TB: count distinct urls/tokens per domain
    without a distinct shuffle of the values themselves) — then an
    m-row-per-group rollup. Register merge is MAX, so partial aggregation
    pushes map-side."""
    h32 = F.conv(F.substring(F.md5(F.col(value_col)), 1, 8), 16, 10).cast(
        "bigint"
    )
    w = h32 % (1 << HLL_W_BITS)
    rho = F.when(w == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(w))
    )
    # md5(NULL) would add a NULL-bucket register row that counts in
    # COUNT(*) but not in the sum — drop NULLs, as kmv_jaccard does
    reg = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.shiftright(h32, HLL_W_BITS).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    s = reg.groupBy(*group_cols).agg(
        (
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RHO_MAX} - rho AS INT))"
                )
            )
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << HLL_RHO_MAX)
        ).alias("s_int"),
        (F.lit(HLL_M) - F.count("*")).alias("v_zero"),
    )
    raw = F.expr(f"CAST({HLL_EST_NUM} AS BIGINT) DIV (1000000 * s_int)")
    lc = F.element_at(
        F.array([F.lit(x) for x in HLL_LC_TABLE]), F.col("v_zero").cast("int")
    )
    est = F.when(
        (raw <= 5 * HLL_M // 2) & (F.col("v_zero") > 0), lc.cast("bigint")
    ).otherwise(raw)
    return s.select(
        *group_cols,
        F.col("v_zero").alias("n_zero_buckets"),
        raw.alias("hll_raw"),
        est.alias("hll_est"),
    )


def kmv_jaccard(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """KMV bottom-k set-similarity between groups ->
    (group_a, group_b, n_shared, jaccard_ppm).

    Each group keeps its k smallest md5-derived hash values (fixed-size
    mergeable signature; exact when the group's distinct values fit in
    k); pairs score floor(1e6 * |shared| / (|sig_a| + |sig_b| -
    |shared|)) — the deterministic signature-overlap estimator, stated
    identically in the SQL mirror. Plan: one (group, hash) distinct,
    a per-group window top-k, then a hash-keyed pair join over
    signature-sized frames (never corpus-sized). The signature frame is
    eagerly checkpointed: three lazy readers share one materialization
    and the blocks release with the frame (a bare persist would stack
    one copy per call)."""
    from pyspark.sql.window import Window

    hv = F.conv(F.substring(F.md5(F.col(value_col)), 1, 8), 16, 10).cast(
        "bigint"
    )
    # NULL values would poison signatures: md5(NULL) is NULL, NULLs sort
    # first under the ascending window (taking rank 1 and inflating
    # n_sig) yet never match in the hv equi-join — drop them up front
    h = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), hv.alias("hv"))
        .distinct()
    )
    win = Window.partitionBy("g").orderBy("hv")
    sig = (
        h.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= k)
        .select("g", "hv")
        .localCheckpoint(eager=True)
    )
    sizes = sig.groupBy("g").agg(F.count("*").alias("n_sig"))
    a = sig.withColumnRenamed("g", "group_a")
    b = sig.withColumnRenamed("g", "group_b")
    pairs = (
        a.join(b, "hv")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(
                sizes.withColumnRenamed("g", "group_a").withColumnRenamed(
                    "n_sig", "n_a"
                )
            ),
            "group_a",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("g", "group_b").withColumnRenamed(
                    "n_sig", "n_b"
                )
            ),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_shared",
            F.expr(
                "n_shared * CAST(1000000 AS BIGINT)"
                " DIV (n_a + n_b - n_shared)"
            ).alias("jaccard_ppm"),
        )
    )
