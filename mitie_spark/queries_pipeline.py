"""Training-data-pipeline and relational-coverage queries (oracle-gated).

Operators a large-scale training-data pipeline needs beyond the reference's
own dataflow (SURVEY.md §2.8 "training-data-pipeline additions"), plus
relational forms from the §2.5 absent-from-reference list (range join, set
ops, JSON extraction) exercised as Catalyst built-ins:

- events_range_join         — non-equi interval join (equality key + range
                              predicate → hash join, NOT a nested-loop)
- train_split_counts        — deterministic md5-bucket train/val/test split
                              (reproducible at any scale, no RNG state)
- contamination_bigrams     — benchmark-contamination check: docs sharing
                              a word-bigram with a fixed benchmark list
- events_json_props         — semi-structured JSON property extraction
- customer_status_setops    — INTERSECT / EXCEPT set operations
- doc_unigram_logprob       — unigram LM quality signal (broadcast counts)
- parts_supplier_counts     — TPC-H Q16 shape (NOT-IN → broadcast anti)
- late_order_priority_counts— TPC-H Q4 shape (EXISTS → left semi)
- small_quantity_revenue    — TPC-H Q17 shape (scalar-subquery reagg)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mitie_spark.queries import query
from mitie_spark.session import load_tables, session_memo

# ---------------------------------------------------------------------------
# Range (interval) join — click → errors by the same user within 10 minutes
# ---------------------------------------------------------------------------


@query(
    "events_range_join",
    """
    SELECT c.event_id, COUNT(e.ts) AS n_errors_10m
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, ts FROM events
               WHERE event_type = 'error') e
      ON e.user_id = c.user_id
     AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL '10 minutes'
    GROUP BY c.event_id
    ORDER BY c.event_id
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: for every click, count error events by the same user
    in the following 10 minutes. The equality key (user_id) makes this a
    plain shuffled/broadcast hash join with the range condition as a
    post-join filter — at 100 TB it shuffles by user, never nested-loops.
    (SURVEY.md §2.5: theta/interval joins absent from the reference.)"""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("ets")
    )
    joined = clicks.join(
        errors,
        (F.col("e_user") == F.col("user_id"))
        & (F.col("ets") > F.col("ts"))
        & (F.col("ets") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    return (
        joined.groupBy("event_id")
        .agg(F.count("ets").alias("n_errors_10m"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — md5 bucketing, no RNG state
# ---------------------------------------------------------------------------


@query(
    "train_split_counts",
    """
    WITH b AS (
      SELECT n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 10
               AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY split ORDER BY split
    """,
)
def train_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 split by md5(doc_id) bucket — the standard
    trick for splits that survive reruns, repartitions, and scale changes
    (no RNG seed to coordinate across executors; a doc's split is a pure
    function of its id)."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("int")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check — docs containing a benchmark word-bigram
# ---------------------------------------------------------------------------

_BENCH_BIGRAMS = (
    "hash join",
    "fast table",
    "value part",
    "window order",
)
_BENCH_SQL = ", ".join(f"('{g}')" for g in _BENCH_BIGRAMS)


@query(
    "contamination_bigrams",
    f"""
    WITH bench(g) AS (VALUES {_BENCH_SQL}),
    toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, unnest(
        [l[i] || ' ' || l[i+1] FOR i IN range(1, greatest(len(l), 2))]) AS g
      FROM toks WHERE len(l) >= 2
    )
    SELECT bench.g AS bigram, COUNT(grams.doc_id) AS n_docs
    FROM bench LEFT JOIN grams ON grams.g = bench.g
    GROUP BY bench.g ORDER BY bigram
    """,
)
def contamination_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: how many documents contain each bigram
    of a benchmark set. The probe runs INSIDE one Arrow pass — the bench
    set is a closure-captured Python set (broadcast-equivalent), each doc
    emits only its distinct bench hits, and the corpus never explodes to
    a bigram table (the previous interpreted F.transform gram build was
    the no-HOFs-in-hot-paths violation; string semantics unchanged:
    single-space split + lower on both engines)."""
    import pandas as pd

    from mitie_spark.session import by_compute

    docs = by_compute(load_tables(spark, sf_dir, ["documents"])["documents"])
    bench_set = frozenset(_BENCH_BIGRAMS)

    def probe(batches):
        for pdf in batches:
            ids, gs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                l = [t for t in (text or "").lower().split(" ") if t]
                seen = set()
                for a, b in zip(l, l[1:]):
                    g = a + " " + b
                    if g in bench_set and g not in seen:
                        seen.add(g)
                        ids.append(doc_id)
                        gs.append(g)
            yield pd.DataFrame({"doc_id": ids, "g": gs})

    bench = spark.createDataFrame(
        pd.DataFrame({"g": list(_BENCH_BIGRAMS)}), "g string"
    )
    # per-doc hits only leave the UDF; then a 4-row outer join restores
    # zero counts
    hits = (
        docs.select("doc_id", "text")
        .mapInPandas(probe, schema="doc_id:bigint,g:string")
        .groupBy("g")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
    )
    return (
        bench.join(hits, "g", "left")
        .select(
            F.col("g").alias("bigram"),
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
        )
        .orderBy("bigram")
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON extraction from the events props column
# ---------------------------------------------------------------------------


@query(
    "events_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n, ROUND(AVG(value), 3) AS avg_value
    FROM events
    GROUP BY k_bucket ORDER BY k_bucket
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (get_json_object, JVM-side) + aggregate —
    the semi-structured-scan pattern for event logs."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    k = F.get_json_object("props", "$.k").cast("int") % 10
    return (
        ev.select(k.alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 3).alias("avg_value"))
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Set operations — INTERSECT / EXCEPT over customer order-status sets
# ---------------------------------------------------------------------------


@query(
    "customer_status_setops",
    """
    WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS grp, COUNT(*) AS n_customers
    FROM (SELECT * FROM f INTERSECT SELECT * FROM o)
    UNION ALL
    SELECT 'f_only', COUNT(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
    UNION ALL
    SELECT 'o_only', COUNT(*) FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
    ORDER BY grp
    """,
)
def customer_status_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT coverage (SURVEY.md §2.5 absent-from-reference
    list): customers split by which order statuses they have."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    counts = [
        ("both", f.intersect(o)),
        ("f_only", f.subtract(o)),  # EXCEPT (distinct) semantics
        ("o_only", o.subtract(f)),
    ]
    parts = [
        df.agg(F.count("*").alias("n_customers")).select(
            F.lit(name).alias("grp"), "n_customers"
        )
        for name, df in counts
    ]
    out = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return out.orderBy("grp")


# ---------------------------------------------------------------------------
# Unigram language-model scoring — corpus-frequency log-probability signal
# ---------------------------------------------------------------------------


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized persisted (doc_id, source, token) projection, shared
    by doc_unigram_logprob / bm25_doc_ranking / hll_distinct_tokens:
    repeated invocations (and the multiple reads each lazy result makes
    at collect time) reuse ONE cached copy instead of re-tokenizing the
    corpus or accumulating persisted blocks per call."""
    from mitie_spark.session import by_compute

    def build():
        docs = by_compute(
            load_tables(spark, sf_dir, ["documents"])["documents"]
        )
        return docs.select(
            "doc_id",
            "source",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("token"),
        ).persist()

    return session_memo(spark, "doc_tokens", sf_dir, build)


@query(
    "doc_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    doc AS (
      SELECT doc_id, source, AVG(ln(c * 1.0 / n)) AS lp
      FROM toks JOIN cnt USING (token) CROSS JOIN tot
      GROUP BY doc_id, source
    )
    SELECT source, COUNT(*) AS n_docs, ROUND(AVG(lp), 3) AS avg_logprob
    FROM doc GROUP BY source ORDER BY source
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality signal: mean token log-probability under the
    corpus's own unigram distribution, averaged per source. The counts
    table is vocabulary-sized (≤ a few hundred k rows even at 100 TB), so
    the token→count join broadcasts; everything else is two partial-agg
    shuffles. Rounded at 3 decimals on per-source averages so the value
    hash is stable across libm/summation-order differences."""
    toks = doc_tokens(spark, sf_dir)
    cnt = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = toks.count()  # one scalar; avoids a cross join in the plan
    doc = (
        toks.join(F.broadcast(cnt), "token")
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log(F.col("c") / F.lit(float(total)))).alias("lp"))
    )
    return (
        doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("lp"), 3).alias("avg_logprob"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape — NOT IN subquery → broadcast anti join + distinct agg
# ---------------------------------------------------------------------------


@query(
    "parts_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size >= 20
      AND NOT EXISTS (
        SELECT 1 FROM supplier s
        WHERE s.s_acctbal < 0 AND s.s_suppkey = l.l_suppkey
      )
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """,
    # NOT EXISTS, not NOT IN, in the ORACLE (CLAUDE.md parity trap): one
    # NULL s_suppkey in the blacklist would turn NOT IN into an empty
    # result (three-valued logic) while the Spark anti join keeps rows.
    # The Spark side still demonstrates the Q16 NOT-IN shape as a
    # null-tolerant broadcast LEFT ANTI join.
)
def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: count distinct suppliers per (brand, type) for
    large parts, excluding blacklisted suppliers. The NOT IN subquery is a
    broadcast LEFT ANTI join (the blacklist is a filtered dimension); the
    part join broadcasts too — the lineitem fact table never shuffles
    until the final distinct aggregation."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    bad = (
        t["supplier"].filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    big_parts = t["part"].filter(F.col("p_size") >= 20).select(
        "p_partkey", "p_brand", "p_type"
    )
    li = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(
            F.broadcast(big_parts),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return (
        li.groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape — correlated EXISTS → left semi join
# ---------------------------------------------------------------------------


@query(
    "late_order_priority_counts",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders having at least one returned lineitem,
    counted by priority. The correlated EXISTS is a LEFT SEMI join — the
    probe side never duplicates rows and only the join key shuffles."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        t["orders"]
        .join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — scalar subquery per group (below-average quantity)
# ---------------------------------------------------------------------------


@query(
    "small_quantity_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cut
      FROM lineitem GROUP BY l_partkey
    ) c ON c.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2' AND l.l_quantity < c.qty_cut
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-20%-of-average-quantity orders for
    one brand. The per-part average reaggregates the fact table and joins
    back on the part key; both branches scan lineitem with different
    column prunings (quantity-only vs price+quantity), so Catalyst keeps
    two narrow scans rather than one wide shared exchange — cheaper at
    scale because scan bytes, not shuffle count, dominate here. The brand
    filter broadcasts."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    cuts = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.2).alias("qty_cut"))
    )
    brand = t["part"].filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    out = (
        t["lineitem"]
        .join(cuts, "l_partkey")
        .join(
            F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )
    return out


# ---------------------------------------------------------------------------
# BM25 ranking — the retrieval scorer every corpus-curation stack carries
# ---------------------------------------------------------------------------

#: fixed query-term set (mid-frequency members of the driver generator's
#: vocabulary — present at every scale). The LOCAL_ORACLES mirror in
#: queries_webkg.py imports this tuple, so both engines always score the
#: same query.
BM25_TERMS = ("join", "hash", "scan", "batch")

@query("bm25_doc_ranking")
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-50 over the documents table, INTEGER-exact.

    With k1 = 6/5 and b = 3/4 the per-term weight
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) multiplies out (by
    20*A, avgdl = A/N) to the integer ratio
    44*tf*A / (20*A*tf + 6*A + 18*N*dl), floored at 1e-3 precision;
    idf = ln((N - df + 0.5)/(df + 0.5) + 1) is floored to ppm. The only
    float op is that ln over 4 values (the established ln-parity
    exposure, see doc_unigram_logprob) — every sum downstream is integer,
    so the score is bit-stable under any partitioning. Score units: 1e-9.

    Overflow bound: the numerator 44·tf·A·1000 must stay under 2**63,
    i.e. tf·A < ~2.1e14 (A = total corpus tokens); the denominator term
    18·N·dl needs N·dl < ~5.1e17, and the idf-weighted quotient (< 2200
    per ppm of idf) is far inside int64. Gate corpora are orders of
    magnitude below; at A ≈ 2e13 tokens (~100 TB of text) a term with
    tf >= ~10 overflows, so factor A out of the rational form first.

    Plan shape: the tf/df/dl aggregates are three partial-agg shuffles
    over the (doc_id, token) projection (shared persisted frame with
    doc_unigram_logprob, see doc_tokens); idf is a 4-row broadcast; the
    final top-50 is a TakeOrdered, not a full sort. N and A are two
    scalar actions, cached per (session, sf) so repeat invocations don't
    re-count. At 100 TB the per-term df table is vocabulary-sized and
    the score join stays map-side."""
    toks = doc_tokens(spark, sf_dir)
    n_docs, a_tokens = session_memo(
        spark, "bm25_stats", sf_dir,
        lambda: (
            load_tables(spark, sf_dir, ["documents"])["documents"].count(),
            toks.count(),
        ),
    )
    terms = list(BM25_TERMS)
    qtoks = toks.where(F.col("token").isin(terms))
    tf = qtoks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = (
        qtoks.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    idf = dfreq.select(
        "token",
        F.expr(
            f"CAST(FLOOR(ln((CAST({n_docs} AS BIGINT) - df + 0.5)"
            " / (df + 0.5) + 1) * 1000000) AS BIGINT)"
        ).alias("idf_ppm"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    term = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "token")
        .select(
            "doc_id",
            F.expr(
                f"idf_ppm * ((44 * tf * CAST({a_tokens} AS BIGINT) * 1000)"
                f" DIV (20 * CAST({a_tokens} AS BIGINT) * tf"
                f" + 6 * CAST({a_tokens} AS BIGINT)"
                f" + 18 * CAST({n_docs} AS BIGINT) * dl))"
            ).alias("w"),
        )
    )
    return (
        term.groupBy("doc_id")
        .agg(F.sum("w").alias("bm25_p9"))
        .orderBy(F.desc("bm25_p9"), "doc_id")
        .limit(50)
    )
