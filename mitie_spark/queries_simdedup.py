"""Near-dup dedup, ANN, graph-canonicalization, and multimodal queries
(oracle-backed wherever the semantics are SQL-expressible).

Design rule for the approximate operators (MinHash-LSH, SimHash blocking,
hyperplane-LSH): the *blocking* stage is approximate, but the registered
query VERIFIES candidates exactly (exact Jaccard / exact Hamming / exact
cosine), so the final output is a deterministic function of the input and
the DuckDB oracle computes the same set by brute force. Blocking parameters
are chosen so recall over the verification threshold is ~1 (miss
probability < 1e-10 at the gate's scale); at 100 TB the same pipeline runs
with the brute-force oracle replaced by nothing — the LSH candidates ARE
the scale path, and verification touches only candidate pairs.

Reference precedent for hash→bucket→verify neighbor search: the wordrep
k-NN tool (/root/reference/tools/wordrep/src/main.cpp:197-256).
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf string type hints ('pd.Series')
# resolve against this module's globals under `from __future__ import annotations`

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mitie_spark.queries import query
from mitie_spark.session import load_tables, session_memo

# ---------------------------------------------------------------------------
# Shared fragments
# ---------------------------------------------------------------------------

_JACCARD_T = 0.8  # verification threshold for char-4-shingle Jaccard

# exact char-4-shingle sets over ' '+lower(text)+' ' — identical char
# semantics in Spark (substr on chars) and DuckDB (substr on chars)
_SHINGLE_SQL = """
  SELECT doc_id,
         list_distinct([substr(t, i, 4)
                        FOR i IN range(1, greatest(len(t) - 2, 2))]) AS gs
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents)
"""

# verified near-dup pairs: md5-minhash band blocking (replicated bit-exactly
# by the oracle — see _MH_BANDS_SQL below) + exact char-4-shingle Jaccard
# verification ≥ 0.8 on the candidates only. Defined as a format template so
# the blocking CTEs (which need `toks`) can be spliced in after their
# definition below.
_VERIFIED_PAIRS_SQL_TMPL = """
  toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
    FROM documents
  ),
  {bands_sql},
  sh AS ({shingle_sql}),
  pairs AS (
    SELECT id_a, id_b,
           len(list_intersect(a.gs, b.gs)) * 1.0 /
           (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
    FROM cand
    JOIN sh a ON a.doc_id = id_a
    JOIN sh b ON b.doc_id = id_b
    WHERE len(list_intersect(a.gs, b.gs)) * 1.0 /
          (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
          >= {jaccard_t}
  )
"""


_MH_K = 16  # minhash functions
_MH_BANDS = 4  # bands of 4 minhashes each
_MH_ROWS = 4
_MH_P = 2147483647  # 2^31-1: affine products stay < 2^62 (no overflow
# in either engine's BIGINT arithmetic)
# fixed affine-rehash constants: (1103515245*(i+1)+12345) % P and
# (214013*(i+1)+2531011) % P — one md5 per token, 16 cheap modmuls
_MH_A = [1103527590, 59559188, 1163074433, 119106031, 1222621276, 178652874,
         1282168119, 238199717, 1341714962, 297746560, 1401261805, 357293403,
         1460808648, 416840246, 1520355491, 476387089]
_MH_B = [2745024, 2959037, 3173050, 3387063, 3601076, 3815089, 4029102,
         4243115, 4457128, 4671141, 4885154, 5099167, 5313180, 5527193,
         5741206, 5955219]
_MH_A_SQL = "[" + ", ".join(str(a) for a in _MH_A) + "]"
_MH_B_SQL = "[" + ", ".join(str(b) for b in _MH_B) + "]"

# md5-keyed minhash banding over word-3-gram sets, identical in both
# engines: the ORACLE REPLICATES THE BLOCKING bit-for-bit, so the candidate
# set is part of the checked semantics (no probabilistic-recall argument
# needed) — and the buckets are md5 strings, i.e. effectively unbounded
# cardinality: bucket size tracks true near-dup group size, never 2^r.
# Items are word 3-grams, not tokens: templated corpora share most of their
# token VOCABULARY across unrelated documents (token-set minhash degenerated
# to a near-all-pairs join at sf0.1), while 3-gram sets separate cleanly.
_MH_BANDS_SQL = f"""
  filtered AS (SELECT doc_id, l FROM toks WHERE len(l) >= 1),
  mh_grams AS (
    SELECT doc_id,
           [array_to_string(l[i:i+2], ' ')
            FOR i IN range(1, greatest(len(l) - 1, 2))] AS mgs
    FROM filtered
  ),
  xs AS (
    SELECT doc_id,
           list_transform(
             mgs, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {_MH_P}) AS x
    FROM mh_grams
  ),
  sigs AS (
    SELECT doc_id,
           [list_min(list_transform(
              x, v -> ({_MH_A_SQL}[i + 1] * v + {_MH_B_SQL}[i + 1]) % {_MH_P}))
            FOR i IN range({_MH_K})] AS sig
    FROM xs
  ),
  bands AS (
    SELECT doc_id, b,
           md5(CAST(sig[{_MH_ROWS} * b + 1] AS VARCHAR) || ',' ||
               CAST(sig[{_MH_ROWS} * b + 2] AS VARCHAR) || ',' ||
               CAST(sig[{_MH_ROWS} * b + 3] AS VARCHAR) || ',' ||
               CAST(sig[{_MH_ROWS} * b + 4] AS VARCHAR)) AS bucket
    FROM sigs, range({_MH_BANDS}) r(b)
  ),
  cand AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM bands x JOIN bands y
      ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id
  )
"""


def _minhash_band_candidates(docs) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing ≥1 md5-minhash band — the exact
    twin of _MH_BANDS_SQL (one md5 per 3-gram + affine rehash family),
    computed in one Arrow-batched mapInPandas stage: hashlib md5 per gram +
    a vectorized NumPy (16, n_grams) affine-min. A pure-expression version
    of the same arithmetic (nested transform/array_min lambdas) runs
    INTERPRETED in Spark — higher-order functions don't codegen — and was
    ~5× slower; the values are bit-identical (products stay < 2^62, int64).

    The input is repartitioned by compute (the test parquet is one
    unsplittable row group — any narrow pipeline over it would otherwise run
    on a single core; on a real cluster the scan splits naturally and this
    repartition coalesces into AQE)."""
    import hashlib

    import numpy as np

    from mitie_spark.session import by_compute

    docs = by_compute(docs, 2)
    A = np.array(_MH_A, dtype=np.int64)[:, None]
    B = np.array(_MH_B, dtype=np.int64)[:, None]

    def bands_iter(batches):
        for pdf in batches:
            ids: list = []
            bs: list = []
            buckets: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                l = [t for t in (text or "").lower().split(" ") if t]
                if not l:
                    continue
                ng = max(len(l) - 2, 1)
                x = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                " ".join(l[i : i + 3]).encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        % _MH_P
                        for i in range(ng)
                    ),
                    dtype=np.int64,
                    count=ng,
                )
                sig = ((A * x + B) % _MH_P).min(axis=1)
                for b in range(_MH_BANDS):
                    s = ",".join(
                        str(int(v))
                        for v in sig[b * _MH_ROWS : (b + 1) * _MH_ROWS]
                    )
                    ids.append(doc_id)
                    bs.append(b)
                    buckets.append(hashlib.md5(s.encode("utf-8")).hexdigest())
            yield pd.DataFrame({"id": ids, "b": bs, "bucket": buckets})

    bands = docs.select("doc_id", "text").mapInPandas(
        bands_iter, "id bigint, b int, bucket string"
    )
    return (
        bands.alias("x")
        .join(bands.alias("y"), ["b", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


# the full verified-pairs CTE chain (blocking + exact verify), shared by the
# dedup_minhash and dedup_components oracles
_VERIFIED_PAIRS_SQL = _VERIFIED_PAIRS_SQL_TMPL.format(
    bands_sql=_MH_BANDS_SQL, shingle_sql=_SHINGLE_SQL, jaccard_t=_JACCARD_T
)


def _char_shingle_jaccard_udf():
    """Scalar pandas UDF: exact char-4-shingle Jaccard of two texts —
    the same set arithmetic as the oracle's list_intersect form (distinct
    4-grams of ' '+lower(text)+' '). Python set ops over Arrow batches; the
    per-position substr expression form runs interpreted in Spark (HOFs
    don't codegen) and dominated the verify stage's wall time."""

    def shingles(t: str) -> set:
        t = " " + (t or "").lower() + " "
        return {t[i : i + 4] for i in range(max(len(t) - 3, 1))}

    @F.pandas_udf("double")
    def jacc(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(ta, tb):
            sa, sb = shingles(a), shingles(b)
            inter = len(sa & sb)
            out.append(inter / (len(sa) + len(sb) - inter))
        return pd.Series(out)

    return jacc


def _cand_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized persisted blocking candidates — the minhash,
    components, and embedding-cosine queries all start from the same
    banding pass."""
    return session_memo(
        spark, "minhash_candidates", sf_dir,
        lambda: _minhash_band_candidates(
            load_tables(spark, sf_dir, ["documents"])["documents"]
        ).persist(),
    )


def _verified_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band blocking → exact char-4-shingle Jaccard verify ≥ 0.8.

    Blocking is the deterministic md5-minhash banding over word-3-gram sets
    (_minhash_band_candidates) — the ORACLE REPLICATES IT, so the gate
    checks blocking + verification together, with no probabilistic-recall
    requirement. (An earlier revision blocked on crc32 char-4-shingle
    minhashes with 32 bands of 2 — on a templated corpus, where unrelated
    documents share ~0.4 char-shingle Jaccard, that collided into a
    near-all-pairs join at sf0.1.) Verification joins only the candidate
    pairs back to their texts, so the quadratic step never happens: at
    100 TB the blocking shuffle carries (id, band, bucket) triples, and
    document bytes move only for the rare candidate pairs (the Jaccard
    itself is an Arrow-batched pandas UDF — set intersection in C-speed
    Python, not interpreted array expressions).

    The result is persisted and memoized per (session, sf_dir): the
    minhash and components queries share one blocking+verify pass, exactly
    as the KG queries share one extraction pass.
    """

    def build():
        docs = load_tables(spark, sf_dir, ["documents"])["documents"]
        cand = _cand_for(spark, sf_dir)
        texts = docs.select("doc_id", "text")
        jacc = _char_shingle_jaccard_udf()
        j = (
            cand.join(
                texts.select(
                    F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
                ),
                "id_a",
            )
            .join(
                texts.select(
                    F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
                ),
                "id_b",
            )
            .withColumn("jaccard", jacc("text_a", "text_b"))
            .filter(F.col("jaccard") >= _JACCARD_T)
        )
        return j.select("id_a", "id_b", "jaccard").persist()

    return session_memo(spark, "minhash_pairs", sf_dir, build)


@query(
    "dedup_minhash",
    f"""
    WITH {_VERIFIED_PAIRS_SQL}
    SELECT id_a, id_b, ROUND(j, 4) AS jaccard
    FROM pairs ORDER BY id_a, id_b
    """,
)
def dedup_minhash(spark, sf_dir):
    out = _verified_minhash_pairs(spark, sf_dir)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE {_VERIFIED_PAIRS_SQL},
    und AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      (SELECT a, a FROM und UNION SELECT a, b FROM und)
      UNION
      SELECT reach.id, und.b FROM reach JOIN und ON reach.r = und.a
    )
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def dedup_components(spark, sf_dir):
    """Connected-components canonicalization over the verified near-dup
    graph (north-rule stage; min-label propagation + pointer jumping —
    mitie_spark.operators.graph). Oracle: recursive-CTE transitive closure."""
    from mitie_spark.operators.graph import connected_components

    pairs = _verified_minhash_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(
        F.col("id").alias("doc_id"), F.col("comp").cast("bigint").alias("component")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# SimHash — md5-token-hash 60-bit signature, expressible in both engines
# ---------------------------------------------------------------------------

_SIMHASH_MAXH = 6  # pigeonhole: hamming ≤ 6 ⇒ ≥1 of 7 disjoint chunks equal

_SIMHASH_SQL = """
  toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
    FROM documents
  ),
  hs AS (
    SELECT doc_id,
           list_transform(l, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h
    FROM toks
  ),
  sig AS (
    SELECT doc_id,
           CAST(list_sum(
             [CASE WHEN CAST(list_sum(list_transform(
                     h, x -> CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END
                   )) AS BIGINT) > 0
                   THEN (1::BIGINT << b) ELSE 0::BIGINT END
              FOR b IN range(60)]) AS BIGINT) AS sh
    FROM hs
  )
"""


@query(
    "dedup_simhash",
    f"""
    WITH {_SIMHASH_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {_SIMHASH_MAXH}
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup within hamming 6: operators/dedup.
    near_duplicates_simhash (60-bit md5 signature, 7 disjoint 9-bit
    pigeonhole chunks, exact popcount verify)."""
    from mitie_spark.operators.dedup import near_duplicates_simhash

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return near_duplicates_simhash(docs, max_hamming=_SIMHASH_MAXH).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup over documents: deterministic hashed
# token-count vectors (64-dim) so the oracle can recompute them in SQL.
# ---------------------------------------------------------------------------

_COS_T = 0.95
_VDIM = 64

_DOCVEC_SQL = f"""
  toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
    FROM documents
  ),
  bks AS (
    SELECT doc_id,
           list_transform(l, t -> ('0x' || substr(md5(t), 1, 2))::INT % {_VDIM}) AS bk
    FROM toks
  ),
  vecs AS (
    SELECT doc_id,
           [CAST(len(list_filter(bk, x -> x = b)) AS DOUBLE)
            FOR b IN range({_VDIM})] AS v
    FROM bks
  )
"""


def _doc_count_vectors(docs: DataFrame) -> DataFrame:
    """(vec_id=doc_id, embedding: array<double>) — hashed token counts
    (the doc-level 'embedding' used by the near-dup detector). Arrow-batched
    mapInPandas: hashlib md5 bucket per token + np.bincount; the expression
    form (transform over sequence × filter) is O(VDIM·tokens) interpreted
    lambda evals per doc. Values identical to _DOCVEC_SQL."""
    import hashlib

    import numpy as np

    def vecs_iter(batches):
        # token→bucket memo: web text repeats tokens heavily (Zipf), so the
        # md5 count collapses from tokens to distinct-tokens per worker
        bucket: dict[str, int] = {}

        def bk_of(t: str) -> int:
            b = bucket.get(t)
            if b is None:
                b = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:2], 16) % _VDIM
                if len(bucket) < 1_000_000:
                    bucket[t] = b
            return b

        for pdf in batches:
            ids, vs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in (text or "").lower().split(" ") if t]
                bk = np.fromiter(
                    (bk_of(t) for t in toks), dtype=np.int64, count=len(toks)
                )
                ids.append(doc_id)
                vs.append(np.bincount(bk, minlength=_VDIM).astype(np.float64))
            yield pd.DataFrame({"vec_id": ids, "embedding": vs})

    return docs.select("doc_id", "text").mapInPandas(
        vecs_iter, "vec_id bigint, embedding array<double>"
    )


@query(
    "dedup_embedding_cosine",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents
    ),
    {_MH_BANDS_SQL},
    bks AS (
      SELECT doc_id,
             list_transform(l, t -> ('0x' || substr(md5(t), 1, 2))::INT % {_VDIM}) AS bk
      FROM toks
    ),
    vecs AS (
      SELECT doc_id,
             [CAST(len(list_filter(bk, x -> x = b)) AS DOUBLE)
              FOR b IN range({_VDIM})] AS v
      FROM bks
    )
    SELECT id_a, id_b,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))), 4) AS cos
    FROM cand
    JOIN vecs a ON a.doc_id = id_a
    JOIN vecs b ON b.doc_id = id_b
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) *
           sqrt(list_dot_product(b.v, b.v))) >= {_COS_T}
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup: md5-minhash band blocking (deterministic —
    the oracle recomputes the identical candidate set, so blocking is part
    of the verified semantics) + exact cosine ≥ 0.95 over hashed
    token-count vectors. Count vectors are integer-valued, so both engines
    compute identical dot products; only candidate pairs are ever scored."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    cand = _cand_for(spark, sf_dir)
    # count vectors only for docs that appear in a candidate pair (the
    # candidate set is ~duplicate-group-sized, never corpus-sized)
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # count vectors are INTEGER-valued, so dots and square sums are exact
    # in float64 under any summation order — the vectorized Arrow scorer
    # produces the same bits as DuckDB's sequential fold by construction,
    # and the interpreted zip_with/aggregate lambdas (the last HOFs in a
    # gated hot path) are gone from the plan
    from mitie_spark.operators.similarity import _cos_pair_udf

    vecs = _doc_count_vectors(docs.join(cand_ids, "doc_id", "left_semi"))
    out = (
        cand.join(
            vecs.select(
                F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
            ),
            "id_b",
        )
        .select("id_a", "id_b", _cos_pair_udf(None)("va", "vb").alias("cos"))
        .filter(F.col("cos") >= _COS_T)
    )
    return out.select(
        "id_a", "id_b", F.round("cos", 4).alias("cos")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# IVF ANN over the embeddings table (scale path for similarity search)
# ---------------------------------------------------------------------------

_IVF_Q = 5
_IVF_K = 10


@query("ivf_topk")
def ivf_topk_query(spark, sf_dir):
    """IVF ANN (genuinely approximate — registered without a SQL oracle;
    the driver records the rows-only check and the unit tests measure its
    recall against `brute_force_topk`): k-means-lite cells, search only the
    nprobe closest cells per query. At 100 TB the cell id is the bucketing
    key — a query scans nprobe buckets instead of the corpus. The exact
    baseline with a full value-hash oracle is `embedding_topk`."""
    from mitie_spark.operators.similarity import ivf_topk

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = emb.filter(F.col("vec_id") < _IVF_Q)
    c = emb.filter(F.col("vec_id") >= _IVF_Q)
    out = ivf_topk(c, q, k=_IVF_K, n_cells=8, nprobe=4)
    return out.select(
        "qid", "cid", F.round("cos", 4).alias("cos"), "rk"
    ).orderBy("qid", "rk")


# ---------------------------------------------------------------------------
# Multimodal plumbing: opaque binary payload → mapInPandas feature extract.
# Oracle checks the metadata/content-hash plumbing (features themselves are
# covered by unit tests; decode is a deterministic stub in this container).
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           md5(text) AS content_hash
    FROM documents ORDER BY media_id
    """,
)
def multimodal_features(spark, sf_dir):
    """Binary-column plumbing end-to-end: documents → opaque binary payload
    + kind metadata → Arrow-batched mapInPandas decode-stub + feature
    extraction → (media_id, kind, content_hash). The feature vectors are
    computed in the same pass (deterministic fake decode — real decode is a
    clearly-marked stub, operators/multimodal.py) and dropped by the final
    projection; the oracle validates ids, kinds, and payload content hashes."""
    from mitie_spark.operators.multimodal import extract_features, fake_decode

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    # decoder pinned to the deterministic fake: the payloads here are text
    # bytes, and the gate's value hash must not depend on whether a real
    # decode library happens to be installed
    feats = extract_features(media, decoder=fake_decode)
    return feats.select("media_id", "kind", "content_hash").orderBy("media_id")


# ---------------------------------------------------------------------------
# Porter-stemmed top words (T4 surface; no SQL oracle — DuckDB lacks the
# reference stemmer variant; stemmer itself is golden-tested in unit tests)
# ---------------------------------------------------------------------------


@query("stemmed_top_words")
def stemmed_top_words(spark, sf_dir):
    from mitie_spark.functions.stemmer import register_udf

    from mitie_spark.session import by_compute

    stem_udf = register_udf()
    docs = by_compute(load_tables(spark, sf_dir, ["documents"])["documents"])
    toks = docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    toks = toks.filter(F.col("token") != "")
    return (
        toks.select(stem_udf(F.col("token")).alias("stem"))
        .groupBy("stem")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "stem")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Additional relational coverage (Catalyst built-ins; SURVEY.md §2.5 note)
# ---------------------------------------------------------------------------


@query(
    "regional_revenue",
    """
    SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def regional_revenue(spark, sf_dir):
    """TPC-H Q5-shaped multi-join: dims (region, nation, customer) broadcast
    into the fact-side join; only orders⋈lineitem shuffles."""
    t = load_tables(
        spark, sf_dir, ["region", "nation", "customer", "orders", "lineitem"]
    )
    dims = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    return (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("r_name")
    )


@query(
    "top_parts_per_type",
    """
    WITH ranked AS (
      SELECT p_type, p_name, p_retailprice, p_partkey,
             ROW_NUMBER() OVER (PARTITION BY p_type
                                ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part
    )
    SELECT p_type, p_name, ROUND(p_retailprice, 2) AS price, rk
    FROM ranked WHERE rk <= 3 ORDER BY p_type, rk
    """,
)
def top_parts_per_type(spark, sf_dir):
    p = load_tables(spark, sf_dir, ["part"])["part"]
    w = Window.partitionBy("p_type").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_type", "p_name", F.round("p_retailprice", 2).alias("price"), "rk")
        .orderBy("p_type", "rk")
    )


@query(
    "median_order_stats",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def median_order_stats(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` == SQL
    quantile_cont; approx_percentile is the sketch path at scale)."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def repeat_status_customers(spark, sf_dir):
    """Set-op coverage (INTERSECT): customers with both fulfilled and open
    orders.  Gated through ``customer_membership_shapes`` below (one
    driver-cap slot shared with the NOT EXISTS anti-join shape)."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    f_side = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    o_side = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return f_side.intersect(o_side).orderBy("c_custkey")


@query(
    "asof_purchase_before_click",
    """
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def asof_purchase_before_click(spark, sf_dir):
    """As-of join (absent from both the reference and Spark's built-ins;
    SURVEY.md §2.5): for each click, the most recent same-user purchase at
    or before it. Composed as union + running last_value(ignorenulls) over
    a per-user event-time window — one shuffle on user_id, no range
    self-join blowup. The oracle uses DuckDB's native ASOF JOIN, so the
    composition's semantics are checked against a first-class
    implementation."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    both = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "purchase_value"
        ),
    )
    # purchases sort before clicks at equal ts so an equal-time purchase is
    # visible to the click (ASOF's c.ts >= p.ts includes equality); the
    # event_id tiebreaker pins which of two SAME-ts purchases wins —
    # without it F.last returns a shuffle-layout-dependent row (DuckDB's
    # ASOF picks one arbitrarily too, but Spark's side must at least be
    # deterministic across re-runs)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", (F.col("event_type") == "click").cast("int"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = both.withColumn(
        "last_purchase_value", F.last("purchase_value", ignorenulls=True).over(w)
    )
    return (
        run.filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "last_purchase_value",
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Hyperplane-LSH embedding near-dups and chinese-whispers clusters
# (rows-only: random-projection blocking is genuinely approximate, and the
# cluster objective is model-driven — both are unit-tested instead)
# ---------------------------------------------------------------------------


@query("embedding_near_duplicates")
def embedding_near_duplicates(spark, sf_dir):
    """Random-hyperplane LSH blocking + exact cosine verify ≥ 0.95 over the
    documents' hashed count-vectors (operators/similarity.
    cosine_near_duplicates — the sign-bit LSH scale path). 16 bands of
    8 planes: per-band collision at cos 0.95 is (1−acos(.95)/π)^8 ≈ 0.426,
    so the miss probability is (1−0.426)^16 ≈ 1.4e-4 and the output
    matches the deterministic md5-banded variant (dedup_embedding_cosine)
    in practice. 8 planes per band (256 signatures/band) keeps buckets
    fine-grained — recall is bought with MORE BANDS, never with shorter
    band signatures, which coarsen buckets and push the bucket self-join
    toward quadratic at corpus scale. Blocking recall is probabilistic by
    construction, so this entry is rows-only and the md5-banded variant
    carries the value-hash gate."""
    from mitie_spark.operators.similarity import cosine_near_duplicates

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    import numpy as np

    # persisted AND session-memoized: the operator references the vectors
    # four times (both sides of the bucket self-join + both sides of the
    # verify join), the md5-per-token count-vector pass is the expensive
    # upstream, and a fresh persist per invocation would accumulate
    # corpus-sized cached copies
    def build():
        # size the build's partitions from the SCAN width instead of full
        # by_compute: the count-vector work is ~0.2 ms/doc, so at sf0.1
        # (5k docs) a 32-partition stage is ~0.8 s of compute behind
        # ~4.7 s of cold python-worker spawn (measured A/B; this host
        # first-touch-faults at ~15 MB/s — CLAUDE.md). 4× the byte-split
        # scan width caps the query's cold worker demand at small scale
        # without a count job; large corpora scan wide, so min() picks
        # the full cluster width and the 100× behavior is unchanged.
        scan_parts = docs.rdd.getNumPartitions()
        parts = min(
            spark.sparkContext.defaultParallelism, max(4, scan_parts * 4)
        )
        return _doc_count_vectors(docs.repartition(parts)).persist()

    vecs = session_memo(spark, "lsh_count_vectors", sf_dir, build)
    # center the projections on an approximate data mean (deterministic
    # doc_id sample): count vectors are all-positive, so uncentered sign
    # bits collapse into a few huge buckets and the bucket join
    # degenerates toward quadratic (measured 6× slower uncentered)
    sample = np.stack(
        vecs.filter(F.col("vec_id") < 500)
        .toPandas()["embedding"]
        .map(np.asarray)
        .values
    )
    out = cosine_near_duplicates(
        vecs,
        threshold=_COS_T,
        n_planes=128,
        bands=16,
        id_col="vec_id",
        center=sample.mean(axis=0),
    )
    return out.select(
        "id_a", "id_b", F.round("cos", 4).alias("cos")
    ).orderBy("id_a", "id_b")


@query("surface_whisper_clusters")
def surface_whisper_clusters(spark, sf_dir):
    """Chinese-whispers clustering over the verified near-dup graph —
    the synchronous distributed form of the reference's word-cluster pass
    (wordrep kNN + dlib chinese_whispers, main.cpp:197-256). Unlike
    connected components this cuts weak bridges; rows-only (the label
    dynamics are iterative, not SQL-expressible). The synchronous update
    may oscillate rather than reach a fixpoint; the rows are then the
    labelling after chinese_whispers' ``max_iter`` (20) rounds."""
    from mitie_spark.operators.graph import chinese_whispers

    pairs = _verified_minhash_pairs(spark, sf_dir)
    out = chinese_whispers(pairs, src="id_a", dst="id_b", weight="jaccard")
    return (
        out.groupBy("cluster")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "cluster")
    )


@query("conll_eval_metrics")
def conll_eval_metrics(spark, sf_dir):
    """CoNLL evaluation harness (reference: tools/ner_conll --test →
    evaluate_named_entity_recognizer, ner_trainer.cpp:614-688): per-label
    precision/recall/F1 of the committed NER model over the committed
    CoNLL fixture. Rows-only (model-driven — the detections that feed the
    counts are not SQL-expressible); the counting semantics are
    unit-tested against a hand-computed fixture in test_conll_eval.py."""
    import os

    from mitie_spark.models.conll_eval import (
        conll_sentences_df,
        evaluate_ner_df,
    )
    from mitie_spark.models.train import ARTIFACT_DIR
    from mitie_spark.queries_kg import REPO

    path = os.path.join(REPO, "data", "conll", "eval.conll")
    ner_path = os.path.join(ARTIFACT_DIR, "ner_model.npz")
    return evaluate_ner_df(conll_sentences_df(spark, path), ner_path)


# ---------------------------------------------------------------------------
# Cross-document exact duplicated spans (substring dedup, Lee et al. ACL'22)
# ---------------------------------------------------------------------------

_SPAN_LEN = 15  # window length (tokens); the real config runs 50
_SPAN_MAX_DF = 8  # boilerplate cap: window hashes in more docs are dropped


_SPANS_ORACLE_BODY = f"""
    WITH toks AS (
      SELECT doc_id AS id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents
    ), wins0 AS (
      SELECT id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(l[i:i+{_SPAN_LEN - 1}], ' ')) AS h
      FROM toks, unnest(range(1, greatest(len(l) - {_SPAN_LEN} + 2, 1))) AS t(i)
      WHERE len(l) >= {_SPAN_LEN}
        AND substr(md5(array_to_string(l[i:i+4], ' ')), 1, 1) = '0'
    ), wins AS (
      SELECT id, h, MIN(pos) AS pos FROM wins0 GROUP BY id, h
    ), keep AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(*) <= {_SPAN_MAX_DF}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           COUNT(*) AS n_shared_windows,
           MIN(a.pos) AS first_pos_a, MIN(b.pos) AS first_pos_b
    FROM wins a JOIN keep USING (h) JOIN wins b ON a.h = b.h AND a.id < b.id
    GROUP BY id_a, id_b
"""


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing an identical >= 15-token run — EXACT substring
    dedup as content-defined-anchor blocking + hash join (see
    operators.dedup.exact_substring_spans for the full scale design).  The
    oracle replicates the anchored blocking bit-exactly (both engines md5
    the same UTF-8 window strings), so the gate checks the whole pipeline
    including the boilerplate cap, not just a brute-force equivalent."""
    from mitie_spark.operators.dedup import exact_substring_spans

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return exact_substring_spans(
        docs, min_len=_SPAN_LEN, max_df=_SPAN_MAX_DF
    ).orderBy("id_a", "id_b")


@query(
    "dedup_exact_and_spans",
    f"""
    SELECT 'exact' AS method, content_hash AS key_a,
           CAST(keep_doc_id AS VARCHAR) AS key_b, n_docs AS n
    FROM (
      SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
             MIN(doc_id) AS keep_doc_id
      FROM documents
      GROUP BY md5(text)
      HAVING COUNT(*) > 1
    )
    UNION ALL
    SELECT 'span' AS method, CAST(id_a AS VARCHAR) AS key_a,
           CAST(id_b AS VARCHAR) AS key_b, n_shared_windows AS n
    FROM ({_SPANS_ORACLE_BODY.rstrip()})
    ORDER BY method, key_a, key_b
    """,
)
def dedup_exact_and_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups (md5 hash-groupBy) UNION ALL substring-span
    pairs, tagged by method — one gated driver slot covering both exact
    dedup operators (the driver records correctness rows only for the
    first 50 registry entries; see __spark_entry__).  Each branch keeps
    its own physical plan: the union is evaluated as two independent
    subplans, so the hash-groupBy and the anchored span join are audited
    exactly as they run standalone."""
    from mitie_spark.queries import dedup_exact_groups

    exact = dedup_exact_groups(spark, sf_dir).select(
        F.lit("exact").alias("method"),
        F.col("content_hash").alias("key_a"),
        F.col("keep_doc_id").cast("string").alias("key_b"),
        F.col("n_docs").alias("n"),
    )
    spans = dedup_substring_spans(spark, sf_dir).select(
        F.lit("span").alias("method"),
        F.col("id_a").cast("string").alias("key_a"),
        F.col("id_b").cast("string").alias("key_b"),
        F.col("n_shared_windows").alias("n"),
    )
    return exact.unionAll(spans).orderBy("method", "key_a", "key_b")


@query(
    "customer_membership_shapes",
    """
    SELECT 'both_status' AS shape, c_custkey FROM (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'no_orders' AS shape, c_custkey
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    ORDER BY shape, c_custkey
    """,
)
def customer_membership_shapes(spark, sf_dir):
    """INTERSECT (customers with both fulfilled and open orders) UNION ALL
    NOT EXISTS anti join (customers with no orders at all), tagged by
    shape — one gated driver slot covering both membership-test plan
    shapes (driver 50-row cap; see __spark_entry__).  The anti join stays
    a broadcast LEFT ANTI and the INTERSECT stays a hash-distinct
    intersect inside the union's independent subplans."""
    from mitie_spark.queries import customers_without_orders

    both = repeat_status_customers(spark, sf_dir).select(
        F.lit("both_status").alias("shape"), "c_custkey"
    )
    none = customers_without_orders(spark, sf_dir).select(
        F.lit("no_orders").alias("shape"), "c_custkey"
    )
    return both.unionAll(none).orderBy("shape", "c_custkey")
