"""KG-pipeline, dedup, similarity, and text-analysis queries (oracle-backed).

The KG queries run the *actual model pipeline* (extract_kg) on the committed
deterministic corpus and are gated against the planted-truth tables — the
extracted mentions/triples are exactly equal to truth at these scales, so the
value-hash comparison is a full end-to-end correctness check of tokenizer +
NER + relation scoring. sf_dir → corpus mapping: /root/testdata/sfX →
/root/repo/data/kg_sfX (generated deterministically, seed 42; sf0.001 and
sf0.01 are committed, larger scales generate on first use).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mitie_spark.queries import query
from mitie_spark.session import session_memo

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KG_PAGES = {"0.001": 500, "0.01": 2000, "0.1": 20000, "1": 200000}


def kg_dir_for(sf_dir: str) -> str:
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.01"
    out = os.path.join(REPO, "data", f"kg_sf{sf}")
    if not os.path.exists(os.path.join(out, "pages.parquet")):
        from mitie_spark.corpus import generate

        generate(out, KG_PAGES.get(sf, 2000), seed=42)
    return out


def _kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused extraction over the corpus for this scale (session-memoized +
    persisted — several queries share one extraction pass)."""
    from mitie_spark.models.train import ARTIFACT_DIR
    from mitie_spark.operators.extraction import extract_kg

    d = kg_dir_for(sf_dir)

    def build():
        pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
        cores = spark.sparkContext.defaultParallelism
        return extract_kg(
            pages,
            os.path.join(ARTIFACT_DIR, "ner_model.npz"),
            os.path.join(ARTIFACT_DIR, "relation_model.npz"),
            lang_filter=None,
            parallelism=cores * 4,  # CPU-bound stage: tasks per core, not per byte
        ).persist()

    return session_memo(spark, "kg", d, build)


ORACLE_KG = os.path.join(REPO, "data", "kg_sf0.01")

# ---------------------------------------------------------------------------
# KG pipeline queries (model-driven, truth-table oracles)
# ---------------------------------------------------------------------------


@query(
    "kg_mentions_by_tag",
    f"""
    SELECT tag, COUNT(*) AS n_mentions,
           COUNT(DISTINCT surface) AS n_surfaces
    FROM read_parquet('{ORACLE_KG}/mentions_true.parquet')
    GROUP BY tag ORDER BY tag
    """,
)
def kg_mentions_by_tag(spark, sf_dir):
    from mitie_spark.operators.extraction import mentions_table

    m = mentions_table(_kg(spark, sf_dir))
    return (
        m.groupBy("tag")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("surface").alias("n_surfaces"),
        )
        .orderBy("tag")
    )


@query(
    "kg_triples_distinct",
    f"""
    SELECT DISTINCT url, subj, pred, obj
    FROM read_parquet('{ORACLE_KG}/triples_true.parquet')
    """,
)
def kg_triples_distinct(spark, sf_dir):
    from mitie_spark.operators.extraction import triples_table

    return triples_table(_kg(spark, sf_dir)).select(
        "url", "subj", "pred", "obj"
    ).distinct()


@query(
    "kg_triple_pairs_ranked",
    f"""
    SELECT subj, pred, obj, COUNT(DISTINCT url) AS n_docs
    FROM read_parquet('{ORACLE_KG}/triples_true.parquet')
    GROUP BY subj, pred, obj
    ORDER BY n_docs DESC, subj, pred, obj
    LIMIT 50
    """,
)
def kg_triple_pairs_ranked(spark, sf_dir):
    """The canonical triple aggregation (A8 — examples/python/ner.py:93-107:
    GROUP BY entity pair, COUNT, ORDER BY count DESC)."""
    from mitie_spark.operators.extraction import triples_table

    t = triples_table(_kg(spark, sf_dir))
    return (
        t.groupBy("subj", "pred", "obj")
        .agg(F.countDistinct("url").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "subj", "pred", "obj")
        .limit(50)
    )


@query(
    "alias_link_coverage",
    f"""
    WITH ad AS (
      SELECT alias, tag, MIN(canonical_id) AS canonical_id
      FROM read_parquet('{ORACLE_KG}/alias_dict.parquet')
      GROUP BY alias, tag
    )
    SELECT m.tag, COUNT(*) AS n_mentions,
           CAST(SUM(CASE WHEN a.canonical_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_linked,
           COUNT(DISTINCT a.canonical_id) AS n_entities
    FROM read_parquet('{ORACLE_KG}/mentions_true.parquet') m
    LEFT JOIN ad a ON m.surface = a.alias AND m.tag = a.tag
    GROUP BY m.tag ORDER BY m.tag
    """,
)
def alias_link_coverage(spark, sf_dir):
    """J1/J4: broadcast dimension join of mentions against the alias dict —
    deduped per (alias, tag) first (operators/linking.dedupe_alias_dict):
    ambiguous aliases must not fan mention rows out, so linking stays 1:1
    per mention. The oracle applies the same MIN-canonical disambiguation."""
    from mitie_spark.operators.linking import dedupe_alias_dict

    d = kg_dir_for(sf_dir)
    m = spark.read.parquet(os.path.join(d, "mentions_true.parquet"))
    a = dedupe_alias_dict(spark.read.parquet(os.path.join(d, "alias_dict.parquet")))
    j = m.join(
        F.broadcast(a.withColumnRenamed("alias", "surface")),
        ["surface", "tag"],
        "left",
    )
    return (
        j.groupBy("tag")
        .agg(
            F.count("*").alias("n_mentions"),
            F.sum(
                F.when(F.col("canonical_id").isNull(), 0).otherwise(1)
            ).alias("n_linked"),
            F.countDistinct("canonical_id").alias("n_entities"),
        )
        .orderBy("tag")
    )


# ---------------------------------------------------------------------------
# Relational skeletons over the driver's documents table (oracle-exact)
# ---------------------------------------------------------------------------

_GAZ = ("spark", "customer", "table", "vector")
_GAZ_SQL = ", ".join(f"'{g}'" for g in _GAZ)


@query(
    "gazetteer_mentions",
    f"""
    SELECT doc_id, pos, token
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    )
    WHERE token IN ({_GAZ_SQL})
    ORDER BY doc_id, pos
    """,
)
def gazetteer_mentions(spark, sf_dir):
    """Dictionary mention detection skeleton: positional token explode +
    broadcast set membership (the relational shape of mention detection)."""
    from mitie_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    t = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    return t.filter(F.col("token").isin(*_GAZ)).orderBy("doc_id", "pos")


@query(
    "adjacent_pair_candidates",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    ), hits AS (
      SELECT doc_id, pos, token FROM toks WHERE token IN ({_GAZ_SQL})
    ), ordered AS (
      SELECT doc_id, pos, token,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS next_token,
             LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS next_pos
      FROM hits
    )
    SELECT token AS arg1, next_token AS arg2, COUNT(*) AS n_pairs
    FROM ordered WHERE next_token IS NOT NULL
    GROUP BY arg1, arg2
    ORDER BY n_pairs DESC, arg1, arg2
    """,
)
def adjacent_pair_candidates(spark, sf_dir):
    """J3 skeleton: adjacent detected mentions via a lead() window — the
    scalable form of the reference's adjacent-entity-pair candidate join
    (examples/python/ner.py:60-64)."""
    from mitie_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # No repartition: at scale the scan parallelizes via file splits, the
    # explode+isin filter is narrow, and the window exchange carries only
    # the ~2% gazetteer hits — repartitioning here would shuffle the whole
    # text column for nothing (measured 2x slower at sf0.1 warm).
    t = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).filter(F.col("token").isin(*_GAZ))
    w = Window.partitionBy("doc_id").orderBy("pos")
    o = t.select(
        "doc_id",
        "pos",
        "token",
        F.lead("token").over(w).alias("next_token"),
    )
    return (
        o.filter(F.col("next_token").isNotNull())
        .groupBy(F.col("token").alias("arg1"), F.col("next_token").alias("arg2"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "arg1", "arg2")
    )


# ---------------------------------------------------------------------------
# Dedup / fingerprint / quality (training-data pipeline ops)
# ---------------------------------------------------------------------------


@query(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct([array_to_string(l[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(l) - 1, 1))]) AS gs
      FROM toks WHERE len(l) >= 3
    ), sizes AS (
      SELECT doc_id, len(gs) AS sz FROM grams
    ), inv AS (
      SELECT doc_id, unnest(gs) AS g FROM grams
    ), inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
      FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.18
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    from mitie_spark.operators.dedup import token_ngram_jaccard
    from mitie_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    out = token_ngram_jaccard(docs, n=3, threshold=0.18)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@query(
    "doc_fingerprints",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents
    ), gramlists AS (
      SELECT doc_id,
             [array_to_string(l[i:i+4], ' ') FOR i IN range(1, greatest(len(l) - 3, 1))] AS gs
      FROM toks WHERE len(l) >= 5
    ), grams AS (
      SELECT doc_id, unnest(gs) AS g, generate_subscripts(gs, 1) - 1 AS pos
      FROM gramlists
    )
    SELECT doc_id, pos, md5(g) AS fingerprint
    FROM grams
    WHERE substr(md5(g), 1, 1) IN ('0', '1')
    ORDER BY doc_id, pos
    """,
)
def doc_fingerprints(spark, sf_dir):
    """Winnowing-style document fingerprints: 5-gram hashes, deterministic
    1/8 selection by hash prefix (rolling-hash fingerprinting analog —
    reference precedent: substring hashing in approximate_substring_set).

    MEASURED exception to the no-interpreted-HOF rule: md5 dominates this
    query and runs JVM-side either way; the JVM transform+md5 form times
    1.06s vs 1.21s for an Arrow hashlib rewrite at sf0.1/local[32]
    (contrast the minhash bander, where Python md5 + a NumPy affine-min
    beat NESTED interpreted lambdas 5× — here there is no lambda nest)."""
    from mitie_spark.session import by_compute, load_tables

    docs = by_compute(load_tables(spark, sf_dir, ["documents"])["documents"])
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("l"),
    )
    grams = toks.filter(F.size("l") >= 5).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 4),
                lambda i: F.concat_ws(" ", F.slice("l", i, 5)),
            )
        ).alias("pos", "g"),
    )
    return (
        grams.withColumn("fingerprint", F.md5("g"))
        .filter(F.substring("fingerprint", 1, 1).isin("0", "1"))
        .select("doc_id", "pos", "fingerprint")
        .orderBy("doc_id", "pos")
    )


_STOP = ("the", "a", "is", "in", "for", "was", "on", "of")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOP)


@query(
    "doc_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents
    )
    SELECT doc_id, lang, len(l) AS n_tokens,
           ROUND(len(list_filter(l, t -> t IN ({_STOP_SQL}))) * 1.0
                 / greatest(len(l), 1), 4) AS stop_ratio,
           ROUND(COALESCE(list_sum(list_transform(l, t -> length(t))), 0) * 1.0
                 / greatest(len(l), 1), 4) AS mean_tok_len,
           len(list_distinct(l)) AS n_unique
    FROM toks
    ORDER BY doc_id
    """,
)
def doc_quality(spark, sf_dir):
    """Quality-scoring skeleton: stopword ratio, mean token length, lexical
    diversity — all JVM-side built-ins (no Python in the hot path)."""
    from mitie_spark.session import by_compute, load_tables

    docs = by_compute(load_tables(spark, sf_dir, ["documents"])["documents"])
    toks = docs.select(
        "doc_id",
        "lang",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("l"),
    )
    n = F.greatest(F.size("l"), F.lit(1))
    return toks.select(
        "doc_id",
        "lang",
        F.size("l").alias("n_tokens"),
        F.round(
            F.size(F.filter("l", lambda t: t.isin(*_STOP))) / n, 4
        ).alias("stop_ratio"),
        # MEASURED exception to the no-interpreted-HOF rule: this integer
        # fold times 0.88s vs 1.19s for the codegen'd
        # length(concat_ws('', l)) alternative at sf0.1/local[32] — the
        # fold is O(tokens) while concat allocates doc-sized strings, so
        # the interpreted overhead loses to allocation here
        F.round(
            F.aggregate(
                "l", F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
            )
            / n,
            4,
        ).alias("mean_tok_len"),
        F.size(F.array_distinct("l")).alias("n_unique"),
    ).orderBy("doc_id")


@query(
    "token_counts_regex",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '[0-9]+')) AS n_numbers
    FROM documents ORDER BY doc_id
    """,
)
def token_counts_regex(spark, sf_dir):
    """BPE-ish regex token counting, JVM-side regexp_extract_all.

    The whitespace class is spelled out explicitly on BOTH sides instead
    of \\s: Java regex counts \\x0B (vertical tab) as \\s while DuckDB's
    RE2 does not — a VT in any document would flip one engine's token
    count and go red on the value hash."""
    from mitie_spark.session import by_compute, load_tables

    docs = by_compute(load_tables(spark, sf_dir, ["documents"])["documents"])
    return docs.select(
        "doc_id",
        F.size(
            F.expr(
                r"regexp_extract_all(text,"
                r" '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]', 0)"
            )
        ).alias("n_bpe_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[0-9]+', 0)")).alias(
            "n_numbers"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search over the embeddings table
# ---------------------------------------------------------------------------

_COS_Q = 5  # vec_id < 5 are the query vectors
_TOP_K = 10


@query(
    "embedding_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid,
                      list_transform(embedding,
                                     x -> FLOOR(CAST(x AS DOUBLE) * 1000000)
                      ) AS qe
               FROM embeddings WHERE vec_id < {_COS_Q}),
         c AS (SELECT vec_id AS cid,
                      list_transform(embedding,
                                     x -> FLOOR(CAST(x AS DOUBLE) * 1000000)
                      ) AS ce
               FROM embeddings WHERE vec_id >= {_COS_Q}),
         scored AS (
           SELECT qid, cid,
                  ROUND(list_dot_product(qe, ce) /
                        (sqrt(list_dot_product(qe, qe)) *
                         sqrt(list_dot_product(ce, ce))), 4) AS cos
           FROM q, c
         ),
         ranked AS (
           SELECT qid, cid, cos,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, cid) AS rk
           FROM scored
         )
    SELECT qid, cid, cos, rk FROM ranked WHERE rk <= {_TOP_K}
    ORDER BY qid, rk
    """,
)
def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k (the ANN baseline): broadcast the query set,
    score all candidates in one vectorized Arrow batch, rank per query
    (operators/similarity.brute_force_topk). Both engines rank the cosine
    of floor(x·1e6)-quantized vectors: every dot product is an exact
    integer (|floor(x·1e6)|² · dim ≪ 2^53), so NumPy's pairwise batch sum
    and DuckDB's sequential fold agree bit-for-bit — no interpreted
    F.aggregate fold needed for oracle parity."""
    from mitie_spark.session import load_tables

    from mitie_spark.operators.similarity import QUANT_SCALE, brute_force_topk

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return brute_force_topk(
        emb.filter(F.col("vec_id") >= _COS_Q),
        emb.filter(F.col("vec_id") < _COS_Q),
        k=_TOP_K,
        round_decimals=4,
        quantize_scale=QUANT_SCALE,
    ).orderBy("qid", "rk")


@query(
    "embedding_label_centroids",
    """
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))), 4) AS avg_sq_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def embedding_label_centroids(spark, sf_dir):
    from mitie_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        emb.select("label", sq.alias("sq"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("sq"), 4).alias("avg_sq_norm"))
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Model-driven queries without a SQL-expressible oracle (driver records the
# weaker rows-only check): text categorization (M5) and language ID.
# ---------------------------------------------------------------------------


@query("text_categories")
def text_categories(spark, sf_dir):
    from mitie_spark.models.text_categorizer import categorize_documents
    from mitie_spark.models.train import ARTIFACT_DIR

    from mitie_spark.session import by_compute

    d = kg_dir_for(sf_dir)
    # model scoring is CPU-per-doc; the compressed pages scan yields ~2
    # byte-sized splits at sf0.1, which would run the categorizer on 2 cores
    pages = by_compute(
        spark.read.parquet(os.path.join(d, "pages.parquet"))
    ).withColumn("pid", F.abs(F.hash("url")).cast("bigint"))
    cats = categorize_documents(
        pages, os.path.join(ARTIFACT_DIR, "text_categorizer.npz"),
        id_col="pid", text_col="text",
    )
    return (
        cats.groupBy("label")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("score"), 2).alias("avg_score"))
        .orderBy("label")
    )


def _langid_model(spark):
    """Char-n-gram NB over lang-labeled pages, weights broadcast into the
    scoring UDF (functions/langid). Loads the committed artifact
    (models/artifacts/langid.npz — trained by models.train like the other
    model artifacts); falls back to a one-groupBy-pass Spark training run
    over the synthetic per-language corpus when the artifact is absent.
    The driver test corpora label `lang` independently of the text
    (verified: 'zh' docs carry English tokens), so they hold no learnable
    signal; at 100 TB you point train_spark at a bounded sample of
    genuinely lang-labeled pages instead. The model is a 5×4096 matrix
    regardless of corpus size."""
    from mitie_spark.functions.langid import CharNgramLangID
    from mitie_spark.models.train import ARTIFACT_DIR

    def build():
        path = os.path.join(ARTIFACT_DIR, "langid.npz")
        if os.path.exists(path):
            return CharNgramLangID.load(path)
        import pandas as pd

        from mitie_spark.functions.langid import synthetic_lang_corpus

        rows = synthetic_lang_corpus(n_per_lang=200, seed=13)
        train = spark.createDataFrame(
            pd.DataFrame(rows, columns=["lang", "text"])
        )
        return CharNgramLangID.train_spark(
            train, text_col="text", lang_col="lang"
        )

    return session_memo(spark, "langid", ARTIFACT_DIR, build)


@query("lang_id_distribution")
def lang_id_distribution(spark, sf_dir):
    """Language-ID over the corpus with a TRAINED model (char-n-gram
    multinomial NB over hashed UTF-8 byte 1/2/3-grams — functions/langid),
    not the stopword heuristic: one Arrow-vectorized UDF scoring with the
    broadcast 5×4096 weight matrix. Held-out accuracy is pinned ≥0.99 in
    tests/test_text_analysis.py."""
    from mitie_spark.session import by_compute, load_tables

    model = _langid_model(spark)
    docs = by_compute(load_tables(spark, sf_dir, ["documents"])["documents"])
    out = docs.select(model.udf()(F.col("text")).alias("lid"))
    return (
        out.select(F.col("lid.lang").alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("pred_lang")
    )


# ---------------------------------------------------------------------------
# KG analytics — querying the graph the pipeline just built. The reference
# stops at emitting (subj, pred, obj) pairs (examples/python/ner.py:93-107);
# a KG *engine* also has to answer the canonical graph-pattern queries over
# them. Both run on the extracted triples/mentions (exactly the planted
# truth at gate scales), so their full DuckDB value-hash gates live in
# queries_webkg.LOCAL_ORACLES (the driver's 50 gated slots are full).
# ---------------------------------------------------------------------------


@query("kg_two_hop_inference")
def kg_two_hop_inference(spark, sf_dir):
    """Two-hop triple-pattern join — the canonical KG inference query:
    (person)-[born_in]->(city)<-[contains]-(country) rewrites to the
    derived fact (person, country) with document support counts.

    Plan shape: the contains-facts are a geographic DIMENSION (countries ×
    cities — thousands of rows at any corpus scale, it grows with the
    world, not the crawl), so the hop join broadcasts it; the born_in fact
    stream never shuffles for the join, only for the final (person,
    country) aggregate. At 100 TB this is one map-side hash join plus one
    partial-agg shuffle of narrow string pairs."""
    from mitie_spark.operators.extraction import triples_table

    t = triples_table(_kg(spark, sf_dir))
    born = t.where(F.col("pred") == "born_in").select(
        "url", F.col("subj").alias("person"), F.col("obj").alias("city")
    )
    cont = (
        t.where(F.col("pred") == "contains")
        .select(F.col("subj").alias("country"), F.col("obj").alias("city"))
        .distinct()
    )
    return (
        born.join(F.broadcast(cont), "city")
        .groupBy("person", "country")
        .agg(
            F.countDistinct("url").alias("n_docs"),
            F.countDistinct("city").alias("n_cities"),
        )
    )


@query("kg_entity_comentions")
def kg_entity_comentions(spark, sf_dir):
    """Entity co-mention strength: pairs of surfaces appearing in the same
    document, scored by integer lift — floor(1e6 * P(a,b) / (P(a)P(b))),
    the PMI argument in parts-per-million. All-integer arithmetic (counts
    and one integer division) so the value hash is bit-stable under any
    partitioning, the same convention as the quantized cosine queries.

    Overflow bound: n_docs_both·N·1e6 must stay under 2**63 (N = docs
    with a mention), i.e. n_docs_both·N < ~9.2e12. Since n_docs_both <=
    N, that always holds for N < ~3.0e6 documents; on larger corpora a
    pair co-mentioned in more than 9.2e12/N documents overflows.

    Plan shape: ONE url-keyed self-join of the distinct (url, surface)
    projection (co-partitioned — a single shuffle feeds both sides), a
    partial-agg shuffle on the pair key, then a broadcast join against
    the entity-frequency dictionary (vocabulary-sized). The n>=3 support
    floor bounds the pair set the way real co-occurrence miners do; at
    100 TB the quadratic term is bounded per document (entities/doc is a
    property of text, not corpus size)."""
    from mitie_spark.operators.extraction import mentions_table

    # session-memoized persisted projection: the lazy result reads it
    # three times at collect (cnt + both join sides), and repeat
    # invocations must not stack one persisted copy per call
    def build():
        m = (
            mentions_table(_kg(spark, sf_dir))
            .select("url", "surface")
            .distinct()
            .persist()
        )
        return m, m.select("url").distinct().count()

    m, n_total = session_memo(
        spark, "kg_comentions", kg_dir_for(sf_dir), build
    )
    cnt = m.groupBy("surface").agg(F.count("*").alias("c"))
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(b, "url")
        .where(F.col("a.surface") < F.col("b.surface"))
        .groupBy(
            F.col("a.surface").alias("surface_a"),
            F.col("b.surface").alias("surface_b"),
        )
        .agg(F.count("*").alias("n_docs_both"))
        .where(F.col("n_docs_both") >= 3)
    )
    out = (
        pairs.join(
            F.broadcast(cnt.withColumnRenamed("surface", "surface_a")
                        .withColumnRenamed("c", "c_a")),
            "surface_a",
        )
        .join(
            F.broadcast(cnt.withColumnRenamed("surface", "surface_b")
                        .withColumnRenamed("c", "c_b")),
            "surface_b",
        )
        .select(
            "surface_a",
            "surface_b",
            "n_docs_both",
            F.expr(
                f"n_docs_both * CAST({n_total} AS BIGINT) * 1000000"
                " DIV (c_a * c_b)"
            ).alias("lift_ppm"),
        )
    )
    return out


@query("kg_bgp_person_org")
def kg_bgp_person_org(spark, sf_dir):
    """The BGP compiler under the full gate: required block
    (?person born_in ?city)(?country contains ?city) with OPTIONAL
    (?person works_for ?org) — every binding row, including the
    null-org survivors the left join must keep. Exercises
    operators/kgquery.match_patterns end-to-end (variable binding, the
    broadcastable literal-pred projections, optional-block semantics)
    against a DuckDB statement of the same joins."""
    from mitie_spark.operators.extraction import triples_table
    from mitie_spark.operators.kgquery import match_patterns

    t = triples_table(_kg(spark, sf_dir)).select("subj", "pred", "obj")
    return match_patterns(
        t,
        [("?person", "born_in", "?city"), ("?country", "contains", "?city")],
        optional=[("?person", "works_for", "?org")],
    ).select("person", "city", "country", "org")
