"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators over document tables, all expressed as
DataFrame programs with Arrow-vectorized UDFs for the signature math.
Reference precedent for the LSH blocking pattern: the wordrep k-NN tool
(/root/reference/tools/wordrep/src/main.cpp:197-256) builds an approximate
neighbor graph the same way (hash → bucket → verify within bucket).

Scale notes (the part that matters at 100 TB):
- signatures are computed in one narrow pass (no shuffle);
- LSH candidate generation shuffles only (id, band, bucket) triples — tiny
  rows — and self-joins per bucket; AQE's skew-join splitting handles hot
  buckets (boilerplate/empty docs), plus an explicit cap drops degenerate
  buckets larger than `max_bucket` (they are near-certain duplicates of a
  single template — handled by exact dedup instead);
- verification is signature-based (estimated Jaccard), avoiding a second
  pass over the corpus.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P = (1 << 61) - 1  # Mersenne prime for the universal hash family


def _hash_params(num_hashes: int, seed: int):
    rng = np.random.default_rng(seed)
    # multiply-add-shift family over uint64 (odd multipliers) — wraparound
    # arithmetic stays fully vectorized in NumPy (no object math)
    a = rng.integers(1, 1 << 63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


def _char_shingles(text: str, k: int) -> np.ndarray:
    """crc32 hashes of lowercase char k-grams (deterministic, C-speed)."""
    t = " " + text.lower() + " "
    if len(t) < k:
        return np.array([zlib.crc32(t.encode("utf-8"))], dtype=np.int64)
    enc = t.encode("utf-8", errors="replace")
    # shingle over bytes of the utf-8 encoding
    out = {zlib.crc32(enc[i : i + k]) for i in range(len(enc) - k + 1)}
    return np.fromiter(out, dtype=np.int64, count=len(out))


def _minhash(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if shingles.size == 0:
        return np.zeros(a.shape[0], dtype=np.int64)
    s = shingles.astype(np.uint64)
    with np.errstate(over="ignore"):
        v = a[:, None] * s[None, :] + b[:, None]  # uint64 wraparound
    # top 61 bits → fits signed int64 for the Spark column
    return (np.min(v, axis=1) >> np.uint64(3)).astype(np.int64)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_size: int = 4,
    seed: int = 1,
) -> DataFrame:
    """→ (id, sig: array<bigint>) — one narrow Arrow pass."""
    a, b = _hash_params(num_hashes, seed)

    @F.pandas_udf("array<bigint>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = _char_shingles(t or "", shingle_size)
            out.append(_minhash(sh, a, b).tolist())
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 16, max_bucket: int = 500
) -> DataFrame:
    """(id, sig) → candidate (id_a, id_b) pairs sharing ≥1 LSH band bucket."""
    return _lsh_pairs_impl(_band_buckets(sig_df, bands), max_bucket)


def _lsh_pairs_impl(b: DataFrame, max_bucket: int) -> DataFrame:
    counts = b.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    small = b.join(
        counts.filter(F.col("bsz") <= max_bucket), ["band", "bucket"]
    ).select("band", "bucket", "id")
    l = small.withColumnRenamed("id", "id_a")
    r = small.withColumnRenamed("id", "id_b")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def estimated_jaccard(pairs: DataFrame, sig_df: DataFrame) -> DataFrame:
    """pairs(id_a, id_b) × signatures → (id_a, id_b, est_jaccard)."""
    withs = (
        pairs.join(sig_df.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
        .join(sig_df.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z
        )
    )
    return withs.select(
        "id_a",
        "id_b",
        (agree / F.size("sig_a")).cast("double").alias("est_jaccard"),
    )


def near_duplicates_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 4,
    threshold: float = 0.7,
    seed: int = 1,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs with est_jaccard ≥ threshold."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_size, seed)
    sig = sig.persist()
    pairs = _lsh_pairs_impl(_band_buckets(sig, bands), max_bucket=500)
    return estimated_jaccard(pairs, sig).filter(
        F.col("est_jaccard") >= threshold
    )


def _band_buckets(sig_df: DataFrame, bands: int) -> DataFrame:
    @F.pandas_udf("array<struct<band:int,bucket:bigint>>")
    def buckets_udf(sigs: pd.Series) -> pd.Series:
        out = []
        for sig in sigs:
            arr = np.asarray(sig, dtype=np.int64)
            r = max(len(arr) // bands, 1)
            row = []
            for bi in range(bands):
                chunk = arr[bi * r : (bi + 1) * r]
                if chunk.size == 0:
                    break
                row.append(
                    {
                        "band": bi,
                        "bucket": int(zlib.crc32(chunk.tobytes())) | (bi << 32),
                    }
                )
            out.append(row)
        return pd.Series(out)

    return sig_df.select("id", F.explode(buckets_udf("sig")).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


_SIMHASH_BITS = 60  # md5-prefix token hashes: 15 hex digits, SQL-castable


def _simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, sh) — 60-bit SimHash over single-space tokens: bit b is set
    iff most tokens' 60-bit md5-prefix hashes set it (ties -> 0), equal
    bit-for-bit to queries_simdedup._SIMHASH_SQL. An Arrow pandas UDF
    (one memoized md5 per token, NumPy sign-sum): the same sum as nested
    JVM aggregate() lambdas runs interpreted and measured ~15× slower."""
    import hashlib

    from mitie_spark.session import by_compute

    df = by_compute(df, 2)  # a single row group would hash on one core

    @F.pandas_udf("bigint")
    def sh_udf(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}
        shifts = np.arange(_SIMHASH_BITS, dtype=np.int64)
        powers = np.int64(1) << shifts

        def h60(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                memo[tok] = v
            return v

        out = []
        for text in texts:
            toks = [t for t in (text or "").lower().split(" ") if t]
            if not toks:
                out.append(0)
                continue
            hs = np.array([h60(t) for t in toks], dtype=np.int64)
            bits = (hs[:, None] >> shifts[None, :]) & 1
            acc = bits.sum(axis=0) * 2 - len(toks)
            out.append(int(((acc > 0) * powers).sum()))
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sh_udf(F.col(text_col)).alias("sh"))


def near_duplicates_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs -> (id_a, id_b, hamming <= max_hamming).

    Pigeonhole blocking: a pair within max_hamming bits MUST agree on one
    of max_hamming + 1 disjoint signature chunks (7 × 9 bits at the
    default), so blocking recall is exactly 1; candidates are verified by
    exact popcount. Fewer, wider chunks (a lower max_hamming) keep bucket
    sizes bounded on larger corpora."""
    n_chunks = max_hamming + 1
    bits = -(-_SIMHASH_BITS // n_chunks)
    sig = _simhash_signatures(df, id_col, text_col)
    mask = F.lit((1 << bits) - 1)
    cuts = [F.shiftright("sh", bits * i).bitwiseAND(mask) for i in range(n_chunks)]
    chunks = sig.select("id", "sh", F.posexplode(F.array(*cuts)).alias("ci", "cv"))
    l = chunks.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "ci", "cv")
    r = chunks.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "ci", "cv")
    pairs = (
        l.join(r, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate pairs or small corpora)
# ---------------------------------------------------------------------------


def token_ngram_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    low_t_exact_max_docs: int = 200_000,
    minhash_hashes: int = 16,
    max_bucket: int = 2000,
) -> DataFrame:
    """Exact Jaccard ≥ threshold over token n-gram sets — a pure DataFrame
    program (no UDF), with a threshold-adaptive join strategy:

    - threshold ≥ 0.5 → AllPairs-style PREFIX FILTERING: order every doc's
      gram set by a global (doc-frequency asc, gram) total order and index
      only the first |x| − ⌈t·|x|⌉ + 1 grams — any pair with J ≥ t must
      share a prefix gram (Bayardo et al., "Scaling Up All Pairs Similarity
      Search", WWW'07). The inverted-index join touches rare grams
      preferentially, killing the hot-gram quadratic blowup; candidates are
      verified exactly with array_intersect, so the strategy is lossless.
    - threshold < 0.5, corpus ≤ ``low_t_exact_max_docs`` → full
      inverted-index pair counting: the prefix is nearly the whole set at
      low thresholds (|prefix| ≈ (1−t)·|x|), so filtering is pure overhead
      there and counting intersections directly from the index is cheaper.
    - threshold < 0.5, corpus LARGER than the probe → MinHash pre-blocking
      + exact verify: the full inverted index is quadratic in hot grams and
      does not survive 100×, so candidates come from ``minhash_hashes``
      single-row LSH bands over the gram sets (capture probability for a
      pair at J = t is 1−(1−t)^b, ≈0.96 at t=0.18/b=16), buckets capped at
      ``max_bucket`` (boilerplate guard), then every candidate is verified
      with the exact array_intersect Jaccard. Above the probe the result
      is recall-bounded rather than exhaustive — the documented trade at
      web scale; below it (every gated query) the operator stays exact.

    The exact strategies return identical rows (the DuckDB oracle
    brute-forces the same set; equality unit-tested across strategies, and
    the MinHash escape is equality-tested on a corpus where its capture
    probability is ~1).

    The input is repartitioned by compute: the gram explode multiplies rows
    ~30× before the first exchange, so an unsplittable single-row-group
    scan would otherwise run the whole map side on one core."""
    from mitie_spark.session import by_compute

    df = by_compute(df, 2)
    # single-space split (matching the oracle's string_split(text, ' '))
    # and a hard >= n token floor: a shorter doc would otherwise emit one
    # partial "gram" (the whole token list), which the SQL form excludes —
    # two such docs would score jaccard 1.0 on Spark and nothing in DuckDB
    toks = df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
        ).alias("toks"),
    ).filter(F.size("toks") >= n)
    grams = (
        toks.select(
            "id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
                )
            ).alias("grams"),
        )
        .filter(F.size("grams") > 0)
        # the gram build (tokenize + interpreted transform) dominates this
        # operator's cost and is referenced 3-4× downstream (inv + verify
        # sides / sizes); persist so one plan computes it once. Stays
        # cached past return — the result is lazy and reads it at collect
        # time; Spark's ContextCleaner reclaims it when unreferenced.
        .persist()
    )
    inv = grams.select("id", F.explode("grams").alias("g"))

    def _verify_exact(cand: DataFrame) -> DataFrame:
        """Exact Jaccard on candidate pairs only (array_intersect is a JVM
        built-in, not an interpreted lambda)."""
        ga = grams.select(
            F.col("id").alias("id_a"),
            F.col("grams").alias("ga"),
            F.size("grams").alias("sz_a"),
        )
        gb = grams.select(
            F.col("id").alias("id_b"),
            F.col("grams").alias("gb"),
            F.size("grams").alias("sz_b"),
        )
        inter = F.size(F.array_intersect("ga", "gb"))
        out = (
            cand.join(ga, "id_a")
            .join(gb, "id_b")
            .withColumn("inter", inter)
            .select(
                "id_a",
                "id_b",
                (
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                ).alias("jaccard"),
            )
        )
        return out.filter(F.col("jaccard") >= threshold)

    if threshold >= 0.5:
        # global total order: (doc frequency asc, gram asc) — rare first
        dfreq = inv.groupBy("g").agg(F.count("*").alias("dfq"))
        ranked = (
            inv.join(dfreq, "g")
            .groupBy("id")
            .agg(
                F.array_sort(F.collect_list(F.struct("dfq", "g"))).alias("sg")
            )
        )
        sz = F.size("sg")
        # ⌈t·|x|⌉ with a guard against double round-up: 0.56*25 is
        # 14.000000000000002 in binary floating point, and ceil'ing that to
        # 15 makes the prefix one gram too short — losing boundary pairs
        # (J exactly t). Subtracting an epsilon can only LENGTHEN the
        # prefix by one gram in such cases, which keeps the filter lossless.
        plen = F.greatest(
            sz
            - F.ceil(F.lit(float(threshold)) * sz - F.lit(1e-9)).cast("int")
            + 1,
            F.lit(1),
        )
        prefix = ranked.select(
            "id",
            F.explode(
                F.slice(F.transform("sg", lambda s: s["g"]), F.lit(1), plen)
            ).alias("g"),
        )
        cand = (
            prefix.alias("x")
            .join(prefix.alias("y"), "g")
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        return _verify_exact(cand)

    # low threshold: probe the corpus size before committing to the exact
    # full-inverted-index strategy (quadratic in hot grams — the first
    # thing that dies at 100×). The probe count reuses the persisted gram
    # build, so it costs one cheap job, not a recompute.
    if grams.count() > low_t_exact_max_docs:
        # MinHash pre-blocking: b single-hash bands over the gram set.
        # min(xxhash64(i, g)) is a classic per-seed minhash; two docs
        # collide in band i with probability J(a, b), so a pair at J = t
        # is captured by some band with probability 1 − (1 − t)^b.
        sigs = inv.groupBy("id").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("g"))).alias(f"h{i}")
                for i in range(minhash_hashes)
            ]
        )
        bands = sigs.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.col(f"h{i}").alias("bkey"),
                        )
                        for i in range(minhash_hashes)
                    ]
                )
            ).alias("bb"),
        ).select("id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
        # boilerplate guard: a degenerate bucket (shared header/footer
        # grams) would go quadratic — cap it like minhash_lsh does
        bsizes = bands.groupBy("band", "bkey").agg(F.count("*").alias("bn"))
        bands = bands.join(
            bsizes.filter(F.col("bn") <= max_bucket), ["band", "bkey"]
        ).drop("bn")
        cand = (
            bands.alias("x")
            .join(bands.alias("y"), ["band", "bkey"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        return _verify_exact(cand)

    sizes = grams.select("id", F.size("grams").alias("sz"))
    pair_inter = (
        inv.alias("x")
        .join(inv.alias("y"), "g")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pair_inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Cross-document EXACT duplicated-span detection (substring dedup)
# ---------------------------------------------------------------------------


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 15,
    anchor_gram: int = 5,
    anchor_hex: tuple[str, ...] = ("0",),
    max_df: int = 8,
) -> DataFrame:
    """Pairs of documents sharing an identical run of >= ``min_len`` tokens
    — the training-set substring-dedup operator (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL'22) re-expressed as a
    distributed block->verify program instead of a monolithic suffix array
    (which needs the whole corpus addressable from one machine):

    1. ANCHOR SELECTION — token position i is an anchor iff
       md5(the ``anchor_gram``-token gram at i) starts with a hex digit in
       ``anchor_hex`` (rate = len(anchor_hex)/16).  Selection is
       CONTENT-DEFINED: identical text selects identical anchor positions
       in every document containing it, so there is no cross-document
       alignment problem (the failure mode of stride/offset sampling).
    2. WINDOW FINGERPRINTS — at each anchor i (with a full window available)
       emit md5 of the ``min_len``-token window starting at i.  Map-side
       emit is O(total_tokens x rate) rows of (id, pos, hex hash) — the
       only data that ever shuffles; raw text never does.
    3. BOILERPLATE CAP — window hashes present in > ``max_df`` distinct
       documents are dropped before the pair join (site chrome / licence
       boilerplate would otherwise contribute df^2 pairs per hash — the
       same role max_bucket plays in the MinHash path).
    4. PAIR JOIN on the window hash, aggregated per ordered doc pair.

    Precision is exact: a reported pair shares the literal min_len-token
    window (md5-128 equality; collision probability ~2^-64 at corpus
    scale).  Recall on a shared run of T tokens is
    1 - (1-rate)^(T - min_len + 1): probabilistic near the minimum length
    (~6% at T = min_len with the 1/16 default) and ->1 for the long runs
    substring dedup exists to catch (>96% by T = min_len+50, >99.99% by
    T = min_len+150).  Widening ``anchor_hex`` trades emit volume for
    recall; all 16 digits = exhaustive windows = lossless.

    Per the repo convention, fingerprints are computed in one Arrow
    mapInPandas pass (hashlib md5 == Spark F.md5 == DuckDB md5 on UTF-8
    bytes, so the SQL oracle replicates the blocking bit-exactly), not via
    interpreted array HOFs.  Tokenization is the shared single-space-split
    convention.  Reference precedent for hashed-substring blocking:
    approximate_substring_set (/root/reference/mitielib/include/mitie/
    approximate_substring_set.h) fingerprints substrings by rolling hash
    the same way.
    """
    from mitie_spark.session import by_compute

    hexset = frozenset(anchor_hex)

    def gen(batches):
        import hashlib

        for pdf in batches:
            ids: list = []
            poss: list = []
            hs: list = []
            for did, text in zip(pdf["id"], pdf["text"]):
                toks = [t for t in (text or "").lower().split(" ") if t]
                n = len(toks)
                for i in range(n - min_len + 1):
                    a = hashlib.md5(
                        " ".join(toks[i : i + anchor_gram]).encode()
                    ).hexdigest()
                    if a[0] in hexset:
                        ids.append(did)
                        poss.append(i + 1)  # 1-based, matching SQL lists
                        hs.append(
                            hashlib.md5(
                                " ".join(toks[i : i + min_len]).encode()
                            ).hexdigest()
                        )
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "pos": pd.Series(poss, dtype="int64"),
                    "h": pd.Series(hs, dtype="object"),
                }
            )

    # the window scan is CPU-bound (md5 per position), so size tasks by
    # compute, not by parquet byte splits
    proj = by_compute(
        df.select(
            F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
        ),
        2,
    )
    wins = proj.mapInPandas(gen, schema="id long, pos long, h string")
    # intra-doc dedup: one row per (doc, window hash), keeping the first
    # occurrence — bounds the pair-join fan-out for self-repetitive docs.
    # Persisted because three downstream references (the df cap and both
    # sides of the pair join) would otherwise each re-run the md5 scan —
    # the operator's dominant cost (same pattern as near_duplicates_minhash)
    wins = wins.groupBy("id", "h").agg(F.min("pos").alias("pos")).persist()
    keep = wins.groupBy("h").agg(F.count("*").alias("dfq")).filter(
        F.col("dfq") <= max_df
    )
    wins = wins.join(keep.select("h"), "h")
    return (
        wins.alias("a")
        .join(wins.alias("b"), "h")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("n_shared_windows"),
            F.min("a.pos").alias("first_pos_a"),
            F.min("b.pos").alias("first_pos_b"),
        )
    )
