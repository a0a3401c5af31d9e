"""LLM-training-data pipeline queries: repetition filters, sequence
packing, BPE. First-class additions beyond the reference (SURVEY.md §2.8),
each with a DuckDB oracle where SQL can express the semantics.

Oracle-parity rules honored here (CLAUDE.md): single-space tokenization
with empty-token filtering on BOTH sides, COALESCE for short-doc edge
cases, identical ROUND()s and column aliases.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mitie_spark.queries import query
from mitie_spark.session import load_tables, session_memo

# ---------------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021 §A1.1 use character
# fractions in repeated n-grams as quality filters; these are the
# token-level analogs on the single-line documents table)
# ---------------------------------------------------------------------------


@query(
    "doc_repetition_filters",
    """
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
      FROM base
    ),
    grams AS (
      SELECT doc_id, tok,
             LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
             LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM toks
    ),
    bg AS (
      SELECT doc_id, tok || ' ' || t1 AS g, COUNT(*) AS c
      FROM grams WHERE t1 IS NOT NULL GROUP BY doc_id, g
    ),
    bg_top AS (SELECT doc_id, MAX(c) AS top_c FROM bg GROUP BY doc_id),
    tg AS (
      SELECT doc_id,
             COUNT(*) AS n_tri,
             COUNT(DISTINCT tok || ' ' || t1 || ' ' || t2) AS n_tri_d
      FROM grams WHERE t2 IS NOT NULL GROUP BY doc_id
    )
    SELECT b.doc_id,
           len(b.l) AS n_tokens,
           ROUND(COALESCE(2.0 * bg_top.top_c / len(b.l), 0.0), 4)
             AS top_bigram_frac,
           ROUND(COALESCE(1.0 - CAST(tg.n_tri_d AS DOUBLE) / tg.n_tri, 0.0),
                 4) AS dup_trigram_frac,
           CAST(COALESCE(2.0 * bg_top.top_c / len(b.l), 0.0) > 0.2
                OR COALESCE(1.0 - CAST(tg.n_tri_d AS DOUBLE) / tg.n_tri,
                            0.0) > 0.3 AS BOOLEAN) AS flagged
    FROM base b
    LEFT JOIN bg_top ON b.doc_id = bg_top.doc_id
    LEFT JOIN tg ON b.doc_id = tg.doc_id
    ORDER BY b.doc_id
    """,
)
def doc_repetition_filters(spark, sf_dir):
    """Per-doc repetition quality signals: fraction of tokens covered by
    the most frequent bigram + duplicate-trigram fraction, with the
    Gopher-style keep/drop flag. Plan: one explode, then every stage —
    window lead, both gram aggregates, the final joins — is keyed by
    doc_id, so after the first shuffle everything is co-partitioned; at
    100 TB the n-gram keys are (doc_id, gram) pairs whose cardinality is
    bounded per doc (no global hot key — contrast a corpus-wide gram
    count)."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    base = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("l"),
    )
    toks = base.select(
        "doc_id", F.posexplode("l").alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        "tok",
        F.lead("tok", 1).over(w).alias("t1"),
        F.lead("tok", 2).over(w).alias("t2"),
    )
    bg_top = (
        grams.filter(F.col("t1").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "tok", "t1").alias("g"))
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    tg = (
        grams.filter(F.col("t2").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.countDistinct(
                F.concat_ws(" ", "tok", "t1", "t2")
            ).alias("n_tri_d"),
        )
    )
    top_frac = F.coalesce(
        2.0 * F.col("top_c") / F.size("l"), F.lit(0.0)
    )
    dup_frac = F.coalesce(
        1.0 - F.col("n_tri_d").cast("double") / F.col("n_tri"), F.lit(0.0)
    )
    return (
        base.join(bg_top, "doc_id", "left")
        .join(tg, "doc_id", "left")
        .select(
            "doc_id",
            F.size("l").alias("n_tokens"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
            F.round(dup_frac, 4).alias("dup_trigram_frac"),
            ((top_frac > 0.2) | (dup_frac > 0.3)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing (greedy contiguous fill of fixed-size training windows)
# ---------------------------------------------------------------------------

_PACK_CTX = 256  # tokens per training sequence
_PACK_SHARD = 100  # docs per shard; shards pack independently


@query(
    "sequence_packing",
    f"""
    WITH docs_t AS (
      SELECT doc_id, doc_id // {_PACK_SHARD} AS shard,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tok,
             CAST((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
                   - n_tok) // {_PACK_CTX} AS BIGINT) AS pack_id
      FROM docs_t
    )
    SELECT shard, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY shard, pack_id
    ORDER BY shard, pack_id
    """,
)
def sequence_packing(spark, sf_dir):
    """Greedy contiguous packing of documents into fixed-size training
    sequences: a doc starts in the window its running token offset falls
    into. Packing is per shard (fixed doc_id ranges) exactly as a real
    pipeline packs per output shard — which is what makes it scale: the
    running-sum window partitions by shard, so there is no global
    single-partition prefix scan; every stage is a shard-keyed shuffle."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs_t = docs.select(
        "doc_id",
        (F.col("doc_id") / _PACK_SHARD).cast("bigint").alias("shard"),
        F.size(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs_t.withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_CTX),
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "pack_id")
    )


# ---------------------------------------------------------------------------
# PII scrubbing. The synthetic corpus contains no natural PII, so the query
# deterministically injects doc_id-derived PII with the SAME expression in
# both engines (the task's sanctioned small-scale synthesis) — the gate
# then verifies the detector/scrubber regex semantics end to end: per-class
# match counts AND redacted-character totals must agree.
# ---------------------------------------------------------------------------


@query(
    "pii_scrub_by_source",
    r"""
    WITH injected AS (
      SELECT source, n_chars,
        text
        || CASE WHEN doc_id % 3 = 0
                THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST((doc_id // 256) % 256 AS VARCHAR) || '.1'
                ELSE '' END AS t
      FROM documents
    ),
    scrubbed AS (
      SELECT source,
        len(regexp_extract_all(
          t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        len(regexp_extract_all(
          t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS ni,
        len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS np,
        len(t) - len(
          regexp_replace(regexp_replace(regexp_replace(
            t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '[EMAIL]', 'g'),
            '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
            '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS delta
      FROM injected
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(ne) AS BIGINT) AS n_emails,
           CAST(SUM(np) AS BIGINT) AS n_phones,
           CAST(SUM(ni) AS BIGINT) AS n_ips,
           CAST(SUM(delta) AS BIGINT) AS chars_redacted
    FROM scrubbed GROUP BY source ORDER BY source
    """,
)
def pii_scrub_by_source(spark, sf_dir):
    """Detect + redact emails / phones / IPv4s per source partition,
    reporting match counts and characters redacted. One narrow codegen'd
    pass over the text (regexp_count/regexp_replace, no UDF), then a
    20-key aggregate — at 100 TB the scan dominates and parallelizes
    perfectly; nothing shuffles except 6 numbers per source."""
    from mitie_spark.functions.pii import pii_counts, scrub_pii

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" 10."),
                (did % 256).cast("string"),
                F.lit("."),
                (F.expr("doc_id div 256") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(""),
    )
    t = injected.alias("t")
    counts = pii_counts(F.col("t"))
    base = docs.select("source", t).select(
        "source",
        counts["email"].alias("ne"),
        counts["ipv4"].alias("ni"),
        counts["phone"].alias("np"),
        (F.length("t") - F.length(scrub_pii(F.col("t")))).alias("delta"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ne").alias("n_emails"),
            F.sum("np").alias("n_phones"),
            F.sum("ni").alias("n_ips"),
            F.sum("delta").alias("chars_redacted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Domain mixing: deterministic per-source weighted sampling (the data-mixture
# step of a training pipeline) — md5 bucketing, no RNG state to coordinate.
# ---------------------------------------------------------------------------


@query(
    "domain_mixture_sample",
    """
    WITH rated AS (
      SELECT source, n_chars,
             (1 + CAST(substr(source, 4) AS INT) % 4) * 2500 AS rate_bp,
             ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::INT % 10000 AS bucket
      FROM documents
    )
    SELECT source,
           ROUND(ANY_VALUE(rate_bp) / 10000.0, 4) AS rate,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM rated GROUP BY source ORDER BY source
    """,
)
def domain_mixture_sample(spark, sf_dir):
    """Per-domain sampling at source-dependent rates (the mixture-weights
    step): a doc is kept iff its md5 bucket falls under the source's rate.
    Membership is a pure function of doc_id — reruns, repartitions, and
    scale changes reproduce the same sample, and at 100 TB the filter is a
    narrow codegen'd scan (the md5 never shuffles)."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    rate_bp = (1 + F.substring("source", 4, 10).cast("int") % 4) * 2500
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 10000
    )
    rated = docs.select(
        "source",
        "n_chars",
        rate_bp.alias("rate_bp"),
        bucket.alias("bucket"),
    )
    kept = F.col("bucket") < F.col("rate_bp")
    return (
        rated.groupBy("source")
        .agg(
            F.round(F.any_value("rate_bp") / 10000.0, 4).alias("rate"),
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .select(
            "source", "rate", "n_docs", "n_kept", "kept_chars"
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE (iterative trainer — not SQL-expressible; rows-only + equivalence
# unit tests vs the local reference implementation)
# ---------------------------------------------------------------------------

_BPE_MERGES = 30

def _bpe_merges_cached(spark, sf_dir: str) -> list:
    """Session-memoized learned merge table: bpe_merges and bpe_token_counts
    share one training run per (session, sf_dir) instead of re-paying the
    corpus groupBy + 30 sequential pair-count rounds."""
    from mitie_spark.operators.bpe import train_bpe

    return session_memo(
        spark, "bpe_merges", sf_dir,
        lambda: train_bpe(
            load_tables(spark, sf_dir, ["documents"])["documents"],
            n_merges=_BPE_MERGES,
            min_freq=2,
        ),
    )


@query("bpe_merges")
def bpe_merges(spark, sf_dir):
    """Learned BPE merge table (rank, left, right) — genuinely iterative
    (each merge depends on the last), so no SQL oracle; the driver records
    the rows-only check and tests/test_bpe.py pins determinism plus
    local==distributed strategy equivalence. Corpus-sized work is one
    groupBy(word); the merge loop sees only the vocabulary."""
    import pandas as pd

    merges = _bpe_merges_cached(spark, sf_dir)
    pdf = pd.DataFrame(
        {
            "rank": range(len(merges)),
            "left": [a for a, _ in merges],
            "right": [b for _, b in merges],
        }
    )
    return spark.createDataFrame(pdf, "rank:bigint,left:string,right:string")


@query("bpe_token_counts")
def bpe_token_counts(spark, sf_dir):
    """Tokenize the corpus with the learned merges → per-doc BPE token
    counts (rows-only: depends on the iterative merge table). The merge
    table broadcasts in the UDF closure; the corpus never shuffles."""
    from mitie_spark.operators.bpe import bpe_tokenize

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    merges = _bpe_merges_cached(spark, sf_dir)
    return bpe_tokenize(docs, merges).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Real-web ingestion edge: WARC/HTTP envelope round trip (SURVEY.md §2.8;
# reference analog: the gigaword corpus reader's archive→documents edge,
# mitielib/include/mitie/gigaword_reader.h:18-250 — here with the envelope
# a real Common-Crawl crawl actually stores)
# ---------------------------------------------------------------------------


@query("warc_http_ingest")
def warc_http_ingest(spark, sf_dir):
    """Ingestion-edge round trip: documents → synthetic WARC archives whose
    response records carry full HTTP envelopes — status line + headers,
    bodies cycling identity/gzip/brotli/zstd (sources/brotli.py and
    sources/zstd.py store modes, decoded by the pure-Python RFC 7932 and
    RFC 8878 decoders), half of them Transfer-Encoding: chunked, and
    even-leading archives gzip-member framed like a real .warc.gz — then
    warc_to_pages recovers every document byte-exactly.

    Registered rows-only because the driver caps correctness rows at 50
    gated slots (test_registry_fits_driver_correctness_cap); the SAME
    md5+length-vs-documents DuckDB comparison runs locally in
    tests/test_queries_vs_oracle.py::test_warc_http_ingest_oracle.

    Scale shape: two narrow Arrow passes (pack, parse), zero shuffle; at
    100 TB this is the numberless-input edge, so the gate is exactness,
    not throughput — every envelope layer a crawl contains is exercised.
    """
    import pandas as pd

    from mitie_spark.session import by_compute
    from mitie_spark.sources.warc import (
        warc_to_pages,
        write_http_response,
        write_warc,
    )

    # size tasks by cores: the envelope encode/decode is compute-bound
    # and a single parquet file otherwise becomes a single task
    docs = by_compute(
        load_tables(spark, sf_dir, ["documents"])["documents"].select(
            "doc_id", "text"
        )
    )

    def pack(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                body = (text or "").encode("utf-8")
                recs.append(
                    {
                        "lead_id": did,
                        "url": f"https://corpus.example/{did}",
                        "warc_ts": "2024-01-01T00:00:00Z",
                        "html": write_http_response(
                            body,
                            content_encoding=(None, "gzip", "br", "zstd")[
                                did % 4
                            ],
                            # decorrelated from the encoding cycle so all
                            # 8 encoding x chunked combinations occur
                            chunked=bool((did // 4) % 2),
                        ),
                    }
                )
            for i in range(0, len(recs), 256):
                part = recs[i : i + 256]
                lead = part[0].pop("lead_id")  # carried, not re-parsed
                for r in part[1:]:
                    r.pop("lead_id")
                yield pd.DataFrame(
                    {"content": [write_warc(part, gzip_members=lead % 2 == 0)]}
                )

    archives = docs.mapInPandas(pack, "content binary")
    pages = warc_to_pages(archives)
    return pages.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.md5("html").alias("text_md5"),
        F.length(F.col("html").cast("string")).alias("text_len"),
    )


@query("pdf_document_ingest")
def pdf_document_ingest(spark, sf_dir):
    """Ingestion-edge round trip for the web's second document payload:
    documents → synthetic PDFs via the deterministic writer
    (sources/pdf.py — cycling classic-xref / xref-stream+ObjStm layout,
    Flate / LZW / ASCII85-chained content filters, WinAnsi and
    Identity-H+ToUnicode text, multi-page splits) → extract_pdf_text
    recovers every document byte-exactly (md5+length vs the plain
    table; the DuckDB gate runs in tests/test_queries_vs_oracle.py,
    rows-only here because the driver's 50 gated slots are full).

    Scale shape: one narrow Arrow pass, zero shuffle — each document's
    PDF is written and parsed inside its own batch, the same
    per-record shape as the image codecs.
    """
    import hashlib

    import pandas as pd

    from mitie_spark.session import by_compute
    from mitie_spark.sources.pdf import extract_pdf_text, write_pdf

    # one parquet file = one task without this; the per-doc write+parse
    # is compute-bound (~1.6 ms/doc), so size tasks by cores
    docs = by_compute(
        load_tables(spark, sf_dir, ["documents"])["documents"].select(
            "doc_id", "text"
        )
    )

    def roundtrip(batches):
        variants = ("classic", "xrefstream")
        filters = ("flate", "lzw", "a85flate", "none")
        for pdf in batches:
            if not len(pdf):
                continue
            ids, md5s, lens = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                text = text or ""
                lines = text.split("\n")
                pages = [  # ''.split('\n') == [''], so always >= 1 line
                    "\n".join(lines[i : i + 30])
                    for i in range(0, len(lines), 30)
                ]
                try:
                    # winansi needs cp1252-encodable text without bare
                    # control chars (fonts don't encode those)
                    text.encode("cp1252")
                    safe = not any(ch < " " and ch not in "\t\n\r" for ch in text)
                    font = ("winansi", "tounicode2")[did % 2] if safe else "tounicode2"
                except UnicodeEncodeError:
                    font = "tounicode2"
                blob = write_pdf(
                    pages, variants[did % 2], filters[did % 4], font
                )
                got = extract_pdf_text(blob)
                ids.append(did)
                md5s.append(hashlib.md5(got.encode("utf-8")).hexdigest())
                lens.append(len(got))
            yield pd.DataFrame(
                {"doc_id": ids, "text_md5": md5s, "text_len": lens}
            )

    return docs.mapInPandas(
        roundtrip, "doc_id bigint, text_md5 string, text_len bigint"
    )


@query("routed_document_ingest")
def routed_document_ingest(spark, sf_dir):
    """The doc_router edge under the md5 gate: every document becomes a
    PDF, DOCX, XLSX, PPTX, or RTF payload (cycling all five writers AND
    pdf layout variants by doc_id) and extract_document_text must sniff the
    format from magic bytes and recover the text byte-exactly. The html
    path is excluded from the identity gate by design — html_to_text is
    deliberately lossy (whitespace normalization) — and is unit-tested
    in tests/test_docx.py::test_doc_router instead. Rows-only slot; the
    DuckDB gate runs in tests/test_queries_vs_oracle.py.

    Scale shape: one narrow Arrow pass over compute-sized tasks.
    """
    import hashlib

    import pandas as pd

    from mitie_spark.session import by_compute
    from mitie_spark.sources.doc_router import extract_document_text
    from mitie_spark.sources.docx import write_docx
    from mitie_spark.sources.pdf import write_pdf
    from mitie_spark.sources.pptx import write_pptx
    from mitie_spark.sources.rtf import write_rtf
    from mitie_spark.sources.xlsx import write_xlsx

    docs = by_compute(
        load_tables(spark, sf_dir, ["documents"])["documents"].select(
            "doc_id", "text"
        )
    )

    def roundtrip(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, md5s, lens = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                text = text or ""
                try:
                    form = did % 5
                    if form == 0:
                        variant = "xrefstream" if did % 10 == 0 else "classic"
                        payload = write_pdf([text], variant, "flate", "tounicode2")
                    elif form == 1:
                        payload = write_docx(text)
                    elif form == 2:
                        payload = write_xlsx(text)
                    elif form == 3:
                        payload = write_pptx(text)
                    else:
                        payload = write_rtf(text)
                    got = extract_document_text(payload)
                except ValueError:
                    # XML-1.0-unrepresentable doc: emit a sentinel so the
                    # gate fails VISIBLY instead of killing the task
                    got = "<unrepresentable document>"
                ids.append(did)
                md5s.append(hashlib.md5(got.encode("utf-8")).hexdigest())
                lens.append(len(got))
            yield pd.DataFrame(
                {"doc_id": ids, "text_md5": md5s, "text_len": lens}
            )

    return docs.mapInPandas(
        roundtrip, "doc_id bigint, text_md5 string, text_len bigint"
    )


@query("docx_document_ingest")
def docx_document_ingest(spark, sf_dir):
    """Ingestion-edge round trip for office documents: documents →
    minimal real .docx containers (sources/docx.py: ZIP + OOXML
    WordprocessingML) → extract_docx_text recovers every document
    byte-exactly (md5+length gate in tests/test_queries_vs_oracle.py;
    rows-only slot here). XML 1.0 cannot represent bare control
    characters, so a corpus document carrying one would legitimately
    fail this gate — the sf0.01 gate asserts the corpus is clean.

    Scale shape: one narrow Arrow pass over compute-sized tasks,
    zero shuffle — the per-record codec shape.
    """
    import hashlib

    import pandas as pd

    from mitie_spark.session import by_compute
    from mitie_spark.sources.docx import extract_docx_text, write_docx

    docs = by_compute(
        load_tables(spark, sf_dir, ["documents"])["documents"].select(
            "doc_id", "text"
        )
    )

    def roundtrip(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, md5s, lens = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                try:
                    got = extract_docx_text(write_docx(text or ""))
                except ValueError:
                    # bare control char: XML 1.0 cannot carry it — emit
                    # a sentinel so the gate fails visibly, not the task
                    got = "<unrepresentable document>"
                ids.append(int(did))
                md5s.append(hashlib.md5(got.encode("utf-8")).hexdigest())
                lens.append(len(got))
            yield pd.DataFrame(
                {"doc_id": ids, "text_md5": md5s, "text_len": lens}
            )

    return docs.mapInPandas(
        roundtrip, "doc_id bigint, text_md5 string, text_len bigint"
    )
