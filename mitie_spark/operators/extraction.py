"""Fused KG-extraction operator: pages → (mentions, triples) per document.

One narrow mapInPandas stage covers the whole per-document dataflow (EP2/EP3,
SURVEY.md §3): CoNLL tokenize → NER (Viterbi BILOU + chunk classify) →
adjacent-pair candidates both orders → relation scoring → accepted triples.
The stage reads ``text_col`` only and never converts HTML; the pipeline's
``kg`` stage checks html→text in the scan that feeds it. Fusing matters at
100 TB: token arrays and feature matrices never hit a shuffle — the only
shuffles in the pipeline are the *aggregations* downstream (triple counts,
linking, dedup), which operate on small projected rows.

Skew handling (SURVEY.md §4a): Arrow batches are capped by
spark.sql.execution.arrow.maxRecordsPerBatch, and a 100×-long document only
costs its own batch — no key-based shuffle happens here, so no salting is
needed until the aggregate stages.

Models are loaded once per python worker process from an .npz path (shipped
via spark-submit --files on a real cluster) and cached at module level
(``load_ner_model``, ``_load_models``) — equivalent to a broadcast of the
weight matrices.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

MENTION_FIELDS = (
    "start:bigint,end:bigint,tag:string,score:double,surface:string"
)
TRIPLE_FIELDS = (
    "subj:string,pred:string,obj:string,score:double,"
    "subj_start:bigint,obj_start:bigint"
)
KG_SCHEMA = (
    "url:string,n_tokens:bigint,"
    f"mentions:array<struct<{MENTION_FIELDS}>>,"
    f"triples:array<struct<{TRIPLE_FIELDS}>>"
)


@lru_cache(maxsize=4)
def load_ner_model(path: str):
    """The one NER model loader: .npz artifact or dlib ``ner_model.dat``
    (the latter through the per-host sidecar cache), cached per python
    worker process. Used by the extraction UDF, the streaming/CLI
    annotators and the CoNLL evaluation."""
    from mitie_spark.models.artifact_path import resolve_artifact
    from mitie_spark.models.ner_model import NerModel
    from mitie_spark.sources.dlib_models import is_npz

    path = resolve_artifact(path)  # zip-launch / --files fallback chain
    if is_npz(path):
        return NerModel.load(path)
    return _ner_from_dlib_cached(path)


def _ner_from_dlib_cached(ner_path: str):
    """Decode a dlib ``ner_model.dat`` once PER HOST, not per worker
    process: the variable-length dlib stream costs seconds to parse for a
    real 200k-word extractor, and every Python worker would pay it inside
    its own ``load_ner_model`` lru_cache. The decoded model is written as an
    .npz sidecar in the temp dir keyed by (path, size, mtime) — atomic
    tmp+rename, so concurrent workers race benignly — and later workers
    (and later jobs on the same host) load the fast format."""
    import hashlib
    import os
    import tempfile

    from mitie_spark.models.ner_model import NerModel
    from mitie_spark.sources.dlib_models import ner_model_from_dlib

    st = os.stat(ner_path)
    key = hashlib.md5(
        f"{os.path.abspath(ner_path)}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), f"mitie_spark_ner_{key}.npz")
    if os.path.exists(cache):
        try:
            return NerModel.load(cache)
        except Exception:
            pass  # corrupt/partial cache: fall through to re-decode
    ner = ner_model_from_dlib(ner_path)
    # keep the .npz suffix: np.savez appends it to any other name
    tmp = f"{cache[:-4]}.{os.getpid()}.tmp.npz"
    try:
        ner.save(tmp)
        os.replace(tmp, cache)
    except OSError:
        pass  # cache is best-effort (read-only temp dir etc.)
    return ner


@lru_cache(maxsize=4)
def _load_models(ner_path: str, rel_path: str):
    """Load the NER + relation models for the extraction UDF. Accepts this
    engine's .npz artifacts OR a reference user's dlib binaries: a
    ``ner_model.dat`` for ``ner_path``, and for ``rel_path`` one
    ``rel_classifier_*.svm``, a comma-separated list of them, or a
    directory containing them (the reference ships one detector file per
    relation type — tools/train_freebase_relation_detector)."""
    import glob
    import os

    from mitie_spark.models.relation_model import RelationModel
    from mitie_spark.sources.dlib_models import is_npz

    ner = load_ner_model(ner_path)

    if "," not in rel_path and not os.path.exists(rel_path):
        # zip-launch / --files fallback (the is_npz sniff below opens it)
        from mitie_spark.models.artifact_path import resolve_artifact

        rel_path = resolve_artifact(rel_path)
    svm_paths = None
    if os.path.isdir(rel_path):
        svm_paths = sorted(glob.glob(os.path.join(rel_path, "*.svm")))
    elif "," in rel_path:
        svm_paths = rel_path.split(",")
    elif not is_npz(rel_path):
        svm_paths = [rel_path]
    if svm_paths is not None:
        from mitie_spark.models.relation_ref import DlibRelationModel

        rel = DlibRelationModel.from_svm_files(svm_paths, dims=ner.fs.dims)
    else:
        rel = RelationModel.load(rel_path)
    # predict-time guard: the relation detectors must have been trained
    # against the same word-feature source as the NER model — fail fast
    # before a corpus-scale run (binary_relation_detector.h:70-77)
    if rel.fingerprint != ner.fs.fingerprint:
        raise ValueError(
            "relation detector / NER word-feature fingerprint mismatch "
            f"({rel.fingerprint} != {ner.fs.fingerprint}) — retrain the "
            "pair together (reference guard: binary_relation_detector.h:70-77)"
        )
    return ner, rel


def _mention_rows(tokens, ents):
    return [
        {
            "start": s,
            "end": e,
            "tag": tag,
            "score": float(score),
            "surface": " ".join(tokens[s:e]),
        }
        for s, e, tag, score in ents
    ]


def _candidate_pairs(ents):
    """Adjacent detected mentions, both orders, no window crop
    (relation_extraction_example.cpp:107-121) → [((sa, ea), (sb, eb))]."""
    pairs = []
    order = sorted(range(len(ents)), key=lambda i: ents[i][0])
    for j in range(len(order) - 1):
        for a, b in ((order[j], order[j + 1]), (order[j + 1], order[j])):
            pairs.append(
                ((ents[a][0], ents[a][1]), (ents[b][0], ents[b][1]))
            )
    return pairs


def _triple_row(tokens, arg1, arg2, pred, score):
    sa, ea = arg1
    sb, eb = arg2
    return {
        "subj": " ".join(tokens[sa:ea]),
        "pred": pred,
        "obj": " ".join(tokens[sb:eb]),
        "score": float(score),
        "subj_start": sa,
        "obj_start": sb,
    }


def extract_documents_batch(texts, ner, rel):
    """Arrow-batch extraction over raw texts: CoNLL-tokenize, then
    ``extract_tokens_batch``."""
    from mitie_spark.functions.tokenizer import tokenize

    return extract_tokens_batch([tokenize(t or "") for t in texts], ner, rel)


def extract_tokens_batch(tok_lists, ner, rel):
    """Extraction over tokenized documents, batched at every model stage:
    NER decode (``NerModel.extract_entities_batch``: one stacked emissions
    matmul + vectorized Viterbi, then every chunk in the batch scored in
    one segment-reduce + matmul), and relation detection (every candidate
    pair in the batch scored in one stacked call). A document's result
    does not depend on its batch: each one equals that document extracted
    as a batch of one (unit-tested), because every stage scores through
    the same summation-order-fixed kernels."""
    Xs = [ner.X(toks) for toks in tok_lists]
    ents_lists = ner.extract_entities_batch(tok_lists, Xs)
    results = [
        [len(toks), _mention_rows(toks, ents), []]
        for toks, ents in zip(tok_lists, ents_lists)
    ]
    # relation candidates across the whole batch → one scoring call
    pair_items = []
    pair_where = []
    for di, (toks, X, ents) in enumerate(zip(tok_lists, Xs, ents_lists)):
        if len(ents) < 2:
            continue
        mean_cache: dict = {}
        for arg1, arg2 in _candidate_pairs(ents):
            pair_items.append((toks, X, arg1, arg2, mean_cache))
            pair_where.append((di, arg1, arg2))
    for (di, arg1, arg2), hits in zip(
        pair_where, rel.detect_batch(pair_items)
    ):
        toks = tok_lists[di]
        for pred, score in hits:
            results[di][2].append(
                _triple_row(toks, arg1, arg2, pred, score)
            )
    return [tuple(r) for r in results]


# Pages per extraction task. Every Python task pays a fixed set-up cost:
# PySpark's setup_spark_files calls importlib.invalidate_caches(), which
# makes Python 3.11 re-read the 1,328-entry pyspark.zip directory once per
# zip importer (16 per worker). Measured on a 4-core host at local[4]:
# ≈0.22 core-s per task (a trivial mapInPandas, 64 vs 4 tasks), and ≈3 ms
# of kg-stage CPU per page (html check plus extraction, cold memos, 2.4-3.5
# ms). 700 pages keep the fixed cost near 10% of a task.
ROWS_PER_TASK = 700


def extraction_tasks(rows: int, cores: int) -> int:
    """Task count for extracting ``rows`` pages on ``cores`` cores:
    ``ceil(rows / ROWS_PER_TASK)``, clamped to one to four tasks per core.
    Four per core is the count the stage used for every input before: on
    a large corpus small tasks spread the 40×-long pages (1% of web
    text) over the cores."""
    return min(max(-(-rows // ROWS_PER_TASK), cores), 4 * cores)


def extract_kg(
    pages: DataFrame,
    ner_path: str,
    rel_path: str,
    text_col: str = "text",
    lang_filter: str | None = "en",
    parallelism: int | None = None,
) -> DataFrame:
    """pages(url, text[, lang]) → (url, n_tokens, mentions[], triples[]).

    ``parallelism``: optional round-robin repartition of the (url, text)
    projection before the CPU-bound UDF. Extraction costs ~2-5 ms/doc of CPU
    while compressed web text scans at >100 MB/s, so byte-based input splits
    chronically under-partition this stage; size tasks by compute instead
    (``extraction_tasks``: pages per task against the fixed per-task cost,
    between one and four tasks per core). The shuffle moves only the
    projected two columns."""
    if lang_filter is not None and "lang" in pages.columns:
        pages = pages.filter(pages["lang"] == lang_filter)
    slim = pages.select("url", text_col)
    if parallelism:
        slim = slim.repartition(parallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ner, rel = _load_models(ner_path, rel_path)
        for pdf in batches:
            out = {"url": [], "n_tokens": [], "mentions": [], "triples": []}
            results = extract_documents_batch(list(pdf[text_col]), ner, rel)
            for url, (n, ments, trips) in zip(pdf["url"], results):
                out["url"].append(url)
                out["n_tokens"].append(n)
                out["mentions"].append(ments)
                out["triples"].append(trips)
            yield pd.DataFrame(out)

    return slim.mapInPandas(run, schema=KG_SCHEMA)


def mentions_table(kg: DataFrame) -> DataFrame:
    """Explode to one row per mention (the reference's detections sink,
    tools/ner_stream/src/main.cpp:71-86 → parquet)."""
    from pyspark.sql import functions as F

    m = kg.select("url", F.explode("mentions").alias("m"))
    return m.select(
        "url",
        F.col("m.start").alias("token_start"),
        F.col("m.end").alias("token_end"),
        F.col("m.tag").alias("tag"),
        F.col("m.score").alias("score"),
        F.col("m.surface").alias("surface"),
    )


def triples_table(kg: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    t = kg.select("url", F.explode("triples").alias("t"))
    return t.select(
        "url",
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.col("t.score").alias("score"),
    )
