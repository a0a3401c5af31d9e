"""Byte-pair-encoding trainer + tokenizer (training-data-pipeline op).

BPE (Sennrich et al., ACL 2016) learns a merge table from corpus
statistics, then tokenizes by applying merges in rank order. The Spark
shape mirrors the classic trainer: BPE statistics depend only on the
word-frequency table, so the corpus-sized work is ONE groupBy(word) — at
100 TB that is the only shuffle that sees the data; the merge loop runs
over the (vocabulary-sized) frequency table.

Two merge-loop strategies behind a size probe (the connected-components
pattern in operators/graph.py): a vocabulary up to the probe threshold is
the probe's own result and merges locally (exact, fast); above it, each
round is a DataFrame pair-count aggregation + a broadcast merge applied in
a pandas UDF — same result, never materializes the vocab on the driver.
Strategy equivalence is unit-tested.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker (Sennrich's convention)
_VOCAB_MAX = 200_000  # vocabularies up to this many words merge on the driver


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """corpus → (word, cnt): the only corpus-sized shuffle in training."""
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("word")
    )
    return toks.groupBy("word").agg(F.count("*").alias("cnt"))


def _pair_counts_local(vocab: list[tuple[list[str], int]]):
    counts: dict[tuple[str, str], int] = {}
    for syms, cnt in vocab:
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + cnt
    return counts


def _merge_word(syms: list[str], pair: tuple[str, str]) -> list[str]:
    a, b = pair
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _make_apply_merge(pair: tuple[str, str]):
    """Fresh-closure factory for one merge round's UDF. The UDFs of earlier
    rounds stay reachable through the lineage of every later ``cur`` (a
    lost cached partition recomputes through them), so each must pin ITS
    round's pair — a closure over the loop variable would late-bind and
    silently apply the current merge in replayed rounds."""

    @F.pandas_udf("array<string>")
    def apply_merge(col: pd.Series) -> pd.Series:
        return col.map(lambda s: _merge_word(list(s), pair))

    return apply_merge


def train_bpe_local(
    words: list[tuple[str, int]], n_merges: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Reference implementation: exact greedy BPE over a word-frequency
    list. Ties break lexicographically (deterministic). Returns the merge
    table in rank order."""
    vocab = [(list(w) + [END], c) for w, c in words if w]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts_local(vocab)
        if not counts:
            break
        # max count, lexicographically-smallest pair on ties
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        pair = best[0]
        merges.append(pair)
        vocab = [(_merge_word(s, pair), c) for s, c in vocab]
    return merges


def train_bpe(
    docs: DataFrame,
    n_merges: int = 50,
    min_freq: int = 2,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Distributed BPE training. The corpus collapses to (word, cnt) in one
    shuffle; the merge loop then runs on whichever side of the size probe
    the vocabulary lands."""
    wc = word_counts(docs, text_col).persist()
    try:
        rows = wc.limit(_VOCAB_MAX + 1).collect()
        if len(rows) <= _VOCAB_MAX:  # then the probe IS the vocabulary
            return train_bpe_local(
                [(r["word"], r["cnt"]) for r in rows], n_merges, min_freq
            )
        return _train_bpe_distributed(wc, n_merges, min_freq)
    finally:
        wc.unpersist()


def _train_bpe_distributed(
    wc: DataFrame, n_merges: int, min_freq: int
) -> list[tuple[str, str]]:
    """Merge loop as DataFrame rounds: each round explodes adjacent symbol
    pairs of the current vocab, aggregates (ONE vocabulary-sized shuffle —
    never corpus-sized), takes the global argmax (a 1-row reduce, the only
    driver traffic), and rewrites the symbol arrays under the broadcast
    winning pair in a pandas UDF."""
    spark = wc.sparkSession

    cur = wc.select(
        F.concat(
            # split("", -1) keeps a trailing empty string — drop it
            F.filter(F.split("word", ""), lambda c: c != ""),
            F.array(F.lit(END)),
        ).alias("syms"),
        "cnt",
    ).persist()
    cur.count()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_freq:
            break
        pair = (top[0]["a"], top[0]["b"])
        merges.append(pair)

        nxt = cur.select(
            _make_apply_merge(pair)("syms").alias("syms"), "cnt"
        ).persist()
        nxt.count()
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Tokenize one word: repeatedly merge the lowest-rank adjacent pair."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, (a, b) in enumerate(zip(syms, syms[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_tokenize(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """docs → (doc_id, n_bpe_tokens, n_words): apply the learned merge
    table. The merge table is vocabulary-sized — it broadcasts inside the
    UDF closure; the corpus never shuffles (one narrow pass)."""
    ranks = {p: i for i, p in enumerate(merges)}

    def run(batches):
        for pdf in batches:
            n_tok, n_words = [], []
            cache: dict[str, int] = {}
            for text in pdf[text_col]:
                words = [w for w in (text or "").split(" ") if w]
                total = 0
                for w in words:
                    n = cache.get(w)
                    if n is None:
                        n = len(bpe_encode_word(w, ranks))
                        cache[w] = n
                    total += n
                n_tok.append(total)
                n_words.append(len(words))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_tokens": n_tok,
                    "n_words": n_words,
                }
            )

    return docs.mapInPandas(
        run, schema="doc_id:bigint,n_bpe_tokens:bigint,n_words:bigint"
    )
