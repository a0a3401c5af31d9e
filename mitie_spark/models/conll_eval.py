"""CoNLL-style NER evaluation — per-label precision/recall/F1.

Port of the reference's evaluation harness semantics
(/root/reference/mitielib/src/ner_trainer.cpp:614-688
``evaluate_named_entity_recognizer`` + the ``get_label`` exact-range rule at
:409-422, driven by ``tools/ner_conll --test``, tools/ner_conll/src/main.cpp:118):

- a predicted chunk counts as a detection for its predicted label;
- it is a TRUE detection only if a truth chunk with the EXACT same
  (start, end) range exists and carries the same label (a predicted range
  matching no truth chunk gets the not-entity pseudo-label, so it can never
  be true);
- num_targets counts every truth chunk per label;
- precision = true_dets/dets, recall = true_dets/targets (0 when the
  denominator is 0 — the C++ prints nan there; 0 keeps the DataFrame
  SQL-friendly), F1 = 2PR/(P+R).

The distributed form is one ``mapInPandas`` over sentence rows emitting
per-label partial counts, then a tiny groupBy-sum — the same
partial-aggregate shape as every other count in this engine, so it runs at
any corpus size (the reference's loop is single-threaded, :652-673).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def eval_counts(model, sentences, truth_chunks):
    """Driver-side exact port: ``sentences`` = list of token lists,
    ``truth_chunks`` = per-sentence list of (start, end, label). Returns
    {label: (targets, dets, true_dets)}."""
    counts: Counter = Counter()
    for toks, truths in zip(sentences, truth_chunks):
        truth_map = {(s, e): lab for s, e, lab in truths}
        for s, e, tag, _score in model.extract_entities(list(toks)):
            counts[(tag, "dets")] += 1
            if truth_map.get((s, e)) == tag:
                counts[(tag, "true_dets")] += 1
        for _s, _e, lab in truths:
            counts[(lab, "targets")] += 1
    out: dict = {}
    labels = {k[0] for k in counts}
    for lab in labels:
        out[lab] = (
            counts[(lab, "targets")],
            counts[(lab, "dets")],
            counts[(lab, "true_dets")],
        )
    return out


def metrics_from_counts(counts: dict) -> list[dict]:
    """{label: (targets, dets, true_dets)} → per-label + OVERALL rows."""
    rows = []
    tot_t = tot_d = tot_td = 0
    for lab in sorted(counts):
        t, d, td = counts[lab]
        tot_t += t
        tot_d += d
        tot_td += td
        p = td / d if d else 0.0
        r = td / t if t else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        rows.append(
            {"label": lab, "n_targets": t, "n_dets": d, "n_true_dets": td,
             "precision": p, "recall": r, "f1": f1}
        )
    p = tot_td / tot_d if tot_d else 0.0
    r = tot_td / tot_t if tot_t else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    rows.append(
        {"label": "OVERALL", "n_targets": tot_t, "n_dets": tot_d,
         "n_true_dets": tot_td, "precision": p, "recall": r, "f1": f1}
    )
    return rows


def evaluate_ner(model, sentences, truth_chunks) -> list[dict]:
    """Single-process evaluation → metric rows (reference semantics)."""
    return metrics_from_counts(eval_counts(model, sentences, truth_chunks))


def evaluate_ner_df(
    sentences: DataFrame, ner_path: str, round_to: int | None = 4
) -> DataFrame:
    """Distributed evaluation over rows (tokens: array<string>, chunks:
    array<struct<start:long, end:long, label:string>>) → one row per label
    plus OVERALL, ordered by label.

    The model loads once per worker (the cached ``load_ner_model``); each
    Arrow batch reduces to at most a few label rows, so the shuffle is
    label-sized."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mitie_spark.operators.extraction import load_ner_model

        model = load_ner_model(ner_path)
        for pdf in batches:
            toks = [list(t) for t in pdf["tokens"]]
            truths = [
                [(int(c["start"]), int(c["end"]), str(c["label"])) for c in cs]
                for cs in pdf["chunks"]
            ]
            counts = eval_counts(model, toks, truths)
            if not counts:
                continue
            yield pd.DataFrame(
                {
                    "label": list(counts),
                    "n_targets": [v[0] for v in counts.values()],
                    "n_dets": [v[1] for v in counts.values()],
                    "n_true_dets": [v[2] for v in counts.values()],
                }
            )

    partial = sentences.select("tokens", "chunks").mapInPandas(
        run, schema="label string, n_targets long, n_dets long, n_true_dets long"
    )
    per_label = partial.groupBy("label").agg(
        F.sum("n_targets").alias("n_targets"),
        F.sum("n_dets").alias("n_dets"),
        F.sum("n_true_dets").alias("n_true_dets"),
    )
    overall = per_label.agg(
        F.lit("OVERALL").alias("label"),
        F.sum("n_targets").alias("n_targets"),
        F.sum("n_dets").alias("n_dets"),
        F.sum("n_true_dets").alias("n_true_dets"),
    )
    both = per_label.unionByName(overall)
    p = F.when(F.col("n_dets") > 0, F.col("n_true_dets") / F.col("n_dets")).otherwise(0.0)
    r = F.when(F.col("n_targets") > 0, F.col("n_true_dets") / F.col("n_targets")).otherwise(0.0)
    both = both.withColumn("precision", p).withColumn("recall", r)
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(0.0)
    both = both.withColumn("f1", f1)
    if round_to is not None:
        for c in ("precision", "recall", "f1"):
            both = both.withColumn(c, F.round(c, round_to))
    return both.orderBy("label")


def conll_sentences_df(spark: SparkSession, path: str) -> DataFrame:
    """CoNLL-2003 file → (tokens, chunks) evaluation rows via the S3
    parser (sources/conll.py: BIO → BILOU → chunk ranges)."""
    from mitie_spark.sources.conll import read_conll

    return read_conll(spark, path).select(
        "tokens",
        F.transform(
            "chunks",
            lambda c: F.struct(
                c["start"].alias("start"),
                c["end"].alias("end"),
                c["tag"].alias("label"),
            ),
        ).alias("chunks"),
    )
