"""Freebase-format relation training data source (trainer surface, EP4).

Port of the reference's loader (/root/reference/tools/
train_freebase_relation_detector/src/main.cpp:22-62): one relation per line —
``relation_type arg1_start arg1_end arg2_start arg2_end`` whitespace-
separated, then one discarded separator character, then tab-separated tokens.
Range validity checks match the C++ (half-open, within the token list).

``read_freebase_relations`` is the Spark reader (file = unit of
parallelism); ``train_from_freebase`` feeds the parsed rows to the relation
trainer (models/relation_model.train_relation_model, the ported DCD
solver), covering the reference's relation-training entry point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCHEMA = (
    "relation_type:string,arg1_start:bigint,arg1_end:bigint,"
    "arg2_start:bigint,arg2_end:bigint,tokens:array<string>"
)


def parse_relation_line(line: str) -> dict:
    head, *toks = line.split("\t")
    parts = head.split()
    if len(parts) < 5:
        raise ValueError(f"error loading relation data: {line[:60]!r}")
    rel_type = parts[0]
    a1s, a1e, a2s, a2e = (int(x) for x in parts[1:5])
    # the C++ reads the 5 header fields with >> and the remainder of the
    # first tab-field is empty; tokens are the following tab fields
    tokens = [t for t in toks]
    if not (
        a1s < a1e and a2s < a2e and a1e <= len(tokens) and a2e <= len(tokens)
    ):
        raise ValueError("Invalid range in relation data")
    return {
        "relation_type": rel_type,
        "arg1_start": a1s,
        "arg1_end": a1e,
        "arg2_start": a2s,
        "arg2_end": a2e,
        "tokens": tokens,
    }


def format_relation_line(rel_type, a1, a2, tokens) -> str:
    return (
        f"{rel_type} {a1[0]} {a1[1]} {a2[0]} {a2[1]}\t" + "\t".join(tokens)
    )


def read_freebase_relations(spark: SparkSession, path: str) -> DataFrame:
    import pandas as pd

    lines = spark.read.text(path)

    def parse(batches):
        for pdf in batches:
            rows = [parse_relation_line(l) for l in pdf["value"] if l.strip()]
            yield pd.DataFrame(
                rows,
                columns=[
                    "relation_type", "arg1_start", "arg1_end",
                    "arg2_start", "arg2_end", "tokens",
                ],
            )

    return lines.mapInPandas(parse, schema=SCHEMA)


def train_from_freebase(
    spark: SparkSession, path: str, negatives_per_positive: int = 1, seed: int = 5
):
    """Train one detector per relation_type in the file. Positives are the
    file's rows; the first negative per positive is the same pair with
    swapped argument order (the reference trainer's convention: reversed
    pairs are negative — binary_relation_detector_trainer.cpp). When
    ``negatives_per_positive`` > 1, the extras are seeded random
    single-token span pairs sampled from the same sentence."""
    import numpy as np

    from mitie_spark.models.relation_model import train_relation_model

    rng = np.random.default_rng(seed)
    rows = read_freebase_relations(spark, path).collect()
    preds = sorted({r["relation_type"] for r in rows})
    examples = []
    for r in rows:
        a1 = (r["arg1_start"], r["arg1_end"])
        a2 = (r["arg2_start"], r["arg2_end"])
        toks = list(r["tokens"])
        examples.append((toks, a1, a2, r["relation_type"]))
        examples.append((toks, a2, a1, None))  # swapped order → negative
        n = len(toks)
        for _ in range(max(negatives_per_positive - 1, 0)):
            if n < 3:
                break
            # resample on collision (bounded) so the requested negative
            # count is actually produced — a skipped iteration would bias
            # short sentences toward fewer negatives
            for _retry in range(8):
                s1, s2 = int(rng.integers(0, n)), int(rng.integers(0, n))
                if s1 != s2:
                    examples.append(
                        (toks, (s1, s1 + 1), (s2, s2 + 1), None)
                    )
                    break
    return train_relation_model(preds, examples)
