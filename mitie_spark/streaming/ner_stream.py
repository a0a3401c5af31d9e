"""Streaming NER — the ner_stream entry point (EP1), Spark-ified.

The reference's ner_stream is a Unix-pipe loop: one line in, one bracket-
annotated line out (/root/reference/tools/ner_stream/src/main.cpp:88-122).
Two Spark surfaces here:

- ``format_markup``: byte-exact port of the bracket printer (main.cpp:
  104-120): every token followed by one space; ``[TAG `` opens a chunk and
  ``] `` closes it (the closing bracket replaces the token's trailing
  space). Golden-tested against sample_text.reference-output's format.
- ``ner_stream``: Structured Streaming file source → per-line extraction
  with the broadcast model → annotated lines / mention rows out. Line = one
  record (EP1's sentence scoping). Watermarks are unnecessary — the job is
  stateless per line — so at scale this runs with any trigger; use
  Trigger.AvailableNow for batch-catchup semantics.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession


def format_markup(tokens: list[str], entities: list[tuple[int, int, str]]) -> str:
    """Exact port of the ner_stream printer loop (main.cpp:104-120)."""
    chunks = sorted(entities, key=lambda c: c[0])
    chunks.append((len(tokens) + 1, len(tokens) + 1, ""))
    out = []
    nxt = 0
    i = 0
    while i <= len(tokens):
        if i == chunks[nxt][1]:
            out.append("] ")
            nxt += 1
        if i == len(tokens):
            break
        if i == chunks[nxt][0]:
            out.append(f"[{chunks[nxt][2]} ")
        out.append(tokens[i])
        if i + 1 != chunks[nxt][1]:
            out.append(" ")
        i += 1
    return "".join(out)


def annotate_lines(lines: DataFrame, ner_path: str, text_col: str = "value") -> DataFrame:
    """lines(value) → (line, annotated) using the broadcast NER model; works
    on both batch and streaming DataFrames (stateless mapInPandas).
    Each Arrow batch's lines are decoded in one
    ``NerModel.extract_entities_batch`` call — same values as per-line
    decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mitie_spark.functions.tokenizer import tokenize
        from mitie_spark.operators.extraction import load_ner_model

        ner = load_ner_model(ner_path)
        for pdf in batches:
            toks_list = [tokenize(l or "") for l in pdf[text_col]]
            ents_lists = ner.extract_entities_batch(
                toks_list, [ner.X(t) for t in toks_list]
            )
            out = [
                format_markup(toks, [(s, e, t) for s, e, t, _ in ents])
                for toks, ents in zip(toks_list, ents_lists)
            ]
            yield pd.DataFrame({"line": pdf[text_col], "annotated": out})

    return lines.mapInPandas(run, schema="line:string,annotated:string")


def ner_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    ner_path: str,
    available_now: bool = True,
):
    """File-source streaming job: new text files in ``input_dir`` →
    annotated parquet in ``output_dir``. Returns the StreamingQuery."""
    lines = spark.readStream.format("text").load(input_dir)
    annotated = annotate_lines(lines, ner_path)
    writer = (
        annotated.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def main(argv=None) -> None:
    """Drop-in for the reference's ner_stream binary
    (tools/ner_stream/src/main.cpp:60-122):

        python -m mitie_spark.streaming.ner_stream ner_model.dat < in > out

    One line in, one bracket-annotated line out; the model may be a dlib
    ``ner_model.dat`` or this repo's .npz artifact. This is the local pipe
    loop — use ``ner_stream()`` for the distributed file-source job."""
    import argparse
    import sys

    from mitie_spark.functions.tokenizer import tokenize
    from mitie_spark.operators.extraction import load_ner_model

    ap = argparse.ArgumentParser(
        description="Annotate stdin lines with [TAG ...] entity markup"
    )
    ap.add_argument("model", help="ner_model.dat (dlib) or .npz artifact")
    args = ap.parse_args(argv)
    ner = load_ner_model(args.model)
    for line in sys.stdin:
        toks = tokenize(line)
        ents = ner.extract_entities(toks)
        # flush per line like the reference's `cout << ... << endl`
        # (main.cpp:118): a coprocess waiting on the annotated line must
        # not block on Python's pipe buffering
        print(
            format_markup(toks, [(s, e, t) for s, e, t, _ in ents]),
            flush=True,
        )


if __name__ == "__main__":
    main()
