"""Binary relation detectors — port of the reference's pairwise scoring.

Reference: /root/reference/mitielib/src/binary_relation_detector.cpp:29-187
(feature extraction: mean word vector of each argument + hashed n-gram bags
over 5 context windows with ±1 signs and an arg-order seed offset) and
binary_relation_detector.h:55-78 (sparse linear SVM, score > 0 ⇒ relation).

Candidate semantics are the C++ example's (EP3, SURVEY.md §3): every pair of
*adjacent* detected mentions, in both argument orders, no window crop
(/root/reference/examples/cpp/relation_extraction/
relation_extraction_example.cpp:107-121).

One detector per predicate, trained like the reference's
binary_relation_detector_trainer (binary_relation_detector_trainer.cpp:
176-238) with the ported DCD linear SVM (models/dcd.brdt_train) on the
planted synthetic corpus (the reference's .svm artifacts are not vendored).
"""

from __future__ import annotations

import numpy as np

from mitie_spark.functions.hashing import make_feat, shash
from mitie_spark.models.ner_model import D, sentence_matrix

HR = 1 << 16  # hashed n-gram space (reference: num_hash_dims=100000,
# binary_relation_detector.cpp:54)
WIN_SMALL = 2  # cpp:47 win=2
WIN_BIG = 5  # cpp:48 win2=5
ORDER_SEED_OFFSET = 100_000  # cpp:118-121: seed offset when arg1 after arg2
DENSE_DIM = 2 * D


from functools import lru_cache


# Byte budget (measured on one cold extraction of 256 generated en pages,
# counting key, value, lru link and dict slot): ~400 B per entry, median
# and p99 alike, so up to ~0.8 GiB per Python worker at maxsize.
@lru_cache(maxsize=2_000_000)
def _feat(gram: str, seed: int) -> tuple[int, float]:
    """murmur → (index % HR, ±1.5), cached (templated web text repeats
    n-grams heavily; one dict hit replaces a murmur + mod per occurrence)."""
    idx, val = make_feat(shash(gram, seed))
    return idx % HR, val


# memoize only short windows: the fixed-width before/after windows (2 and 5
# tokens) repeat heavily in web text, but the between-mentions window is
# uncropped and mostly unique — caching it would grow per-worker memory with
# corpus diversity (entry-count-bounded, not byte-bounded)
_MEMO_MAX_WINDOW = 8


# Byte budget (same measurement as _feat): median ~1.05 KB, p99 ~1.07 KB
# per entry, so ~0.5 GiB per Python worker at maxsize; windows of long
# tokens cost more (largest seen 1.4 KB).
@lru_cache(maxsize=500_000)
def _window_feats(ts: tuple, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """hashed 1/2/3-gram features of a whole token window (cpp:56-86),
    memoized per (window, seed): context windows around entities repeat
    heavily in web text (templates, boilerplate), so a hit replaces the
    entire gram loop with one dict lookup returning ready arrays."""
    return _window_feats_uncached(ts, seed)


def _window_feats_uncached(ts: tuple, seed: int) -> tuple[np.ndarray, np.ndarray]:
    idxs: list[int] = []
    vals: list[float] = []
    n = len(ts)
    feat = _feat
    ia = idxs.append
    va = vals.append
    for i in range(n):
        g = ts[i]
        f = feat(g, seed)
        ia(f[0]); va(f[1])
        if i + 1 < n:
            g = g + " " + ts[i + 1]
            f = feat(g, seed)
            ia(f[0]); va(f[1])
            if i + 2 < n:
                f = feat(g + " " + ts[i + 2], seed)
                ia(f[0]); va(f[1])
    return np.asarray(idxs, dtype=np.int64), np.asarray(vals)


def _window_ngrams(tokens, lo, hi, seed, parts_i, parts_v):
    lo = max(lo, 0)
    hi = min(hi, len(tokens))
    if lo >= hi:
        return
    ts = tuple(tokens[lo:hi])
    if len(ts) <= _MEMO_MAX_WINDOW:
        i, v = _window_feats(ts, seed)
    else:
        i, v = _window_feats_uncached(ts, seed)
    parts_i.append(i)
    parts_v.append(v)


# Byte budget (same measurement as _feat): ~710 B per entry, median and
# p99 alike, so ~0.34 GiB per Python worker at maxsize.
@lru_cache(maxsize=500_000)
def _span_unigram_feats(ts: tuple, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Unigram indicator features of an argument span, memoized — the same
    mention surface recurs across pairs and documents."""
    feats = [_feat(t, seed) for t in ts]
    return (
        np.asarray([f[0] for f in feats], dtype=np.int64),
        np.asarray([f[1] for f in feats]),
    )


def relation_features(
    tokens: list[str],
    X: np.ndarray | None,
    arg1: tuple[int, int],
    arg2: tuple[int, int],
    mean_cache: dict | None = None,
    fs=None,
):
    """→ (sparse [(idx,val)], dense (2d,)) for an ordered (arg1, arg2) pair.

    ``mean_cache``: per-document {(start, end): mean vector} — each mention
    participates in up to 4 ordered candidate pairs, so caching its mean
    word vector cuts the dense-feature cost ~4×."""
    if X is None:
        X = sentence_matrix(tokens, fs)
    s1, e1 = arg1
    s2, e2 = arg2

    def _mean(s, e):
        if mean_cache is None:
            return X[s:e].mean(axis=0)
        m = mean_cache.get((s, e))
        if m is None:
            m = X[s:e].mean(axis=0)
            mean_cache[(s, e)] = m
        return m

    dense = np.concatenate([_mean(s1, e1), _mean(s2, e2)]).astype(np.float64)

    # arg order encoded by seed offset (cpp:111-121)
    off = ORDER_SEED_OFFSET if s1 > s2 else 0
    lo, hi = (min(s1, s2), max(s1, s2)), (min(e1, e2), max(e1, e2))
    first_start, second_start = lo
    first_end, second_end = hi[0], hi[1]

    parts_i: list[np.ndarray] = []
    parts_v: list[np.ndarray] = []
    # 5 windows (cpp:123-187): before-first ×2 widths, between, after-second ×2
    _window_ngrams(tokens, first_start - WIN_SMALL, first_start, off + 1, parts_i, parts_v)
    _window_ngrams(tokens, first_start - WIN_BIG, first_start, off + 2, parts_i, parts_v)
    _window_ngrams(tokens, first_end, second_start, off + 3, parts_i, parts_v)
    _window_ngrams(tokens, second_end, second_end + WIN_SMALL, off + 4, parts_i, parts_v)
    _window_ngrams(tokens, second_end, second_end + WIN_BIG, off + 5, parts_i, parts_v)
    # the argument surfaces themselves (cpp: arg word indicator features)
    i1, v1 = _span_unigram_feats(tuple(tokens[s1:e1]), off + 6)
    i2, v2 = _span_unigram_feats(tuple(tokens[s2:e2]), off + 7)
    parts_i.extend((i1, i2))
    parts_v.extend((v1, v2))
    return np.concatenate(parts_i), np.concatenate(parts_v), dense


class RelationModel:
    """Named binary detectors over the shared feature space.

    ``fingerprint``: the word-feature-source fingerprint this model was
    trained against; the extraction operator verifies it matches the NER's
    source before predicting, mirroring the reference's predict-time guard
    (binary_relation_detector.h:70-77)."""

    def __init__(
        self,
        preds: list[str],
        W_sparse=None,
        W_dense=None,
        b=None,
        fingerprint: int | None = None,
    ):
        self.preds = list(preds)
        k = len(self.preds)
        self.W_sparse = W_sparse if W_sparse is not None else np.zeros((k, HR))
        self.W_dense = W_dense if W_dense is not None else np.zeros((k, DENSE_DIM))
        self.b = b if b is not None else np.zeros(k)
        if fingerprint is None:
            from mitie_spark.models.ner_model import DEFAULT_FS

            fingerprint = DEFAULT_FS.fingerprint
        self.fingerprint = int(fingerprint)

    def _score_rows(self, rows) -> np.ndarray:
        """Batched scoring of feature rows [(idxs, vals, dense)] → (N, K).
        The single-pair ``scores`` routes through here so it stays
        bit-identical to ``detect_batch`` — one shared kernel with the NER
        chunk classifier (ner_model.score_feature_rows)."""
        from mitie_spark.models.ner_model import score_feature_rows

        return score_feature_rows(rows, self.W_sparse, self.W_dense, self.b)

    def _features(self, tokens, X, arg1, arg2, mean_cache=None):
        """Feature hook — the dlib-backed subclass swaps in the reference's
        exact extraction (models/relation_ref.py) while reusing the scoring
        machinery unchanged."""
        return relation_features(tokens, X, arg1, arg2, mean_cache)

    def scores(self, tokens, X, arg1, arg2, mean_cache=None) -> np.ndarray:
        row = self._features(tokens, X, arg1, arg2, mean_cache)
        return self._score_rows([row])[0]

    def detect_batch(self, items):
        """items: [(tokens, X, arg1, arg2, mean_cache)] → per item
        [(pred, score) for score > 0] (binary_relation_detector.h:70-77);
        a single pair is a batch of one. Feature extraction stays per pair
        (memoized windows); the K detector scores for EVERY pair in the
        Arrow batch compute in one stacked call."""
        if not items:
            return []
        rows = [
            self._features(t, X, a1, a2, mc) for t, X, a1, a2, mc in items
        ]
        S = self._score_rows(rows)
        out = []
        for i in range(len(items)):
            hits = np.nonzero(S[i] > 0)[0]
            out.append([(self.preds[j], float(S[i, j])) for j in hits])
        return out

    def save(self, path: str) -> None:
        np.savez_compressed(
            path,
            preds=np.array(self.preds),
            W_sparse=self.W_sparse,
            W_dense=self.W_dense,
            b=self.b,
            # uint64: a detector trained against a dlib-loaded NER carries
            # that model's unsigned murmur fingerprint, which can exceed
            # int64 range (load() round-trips via int())
            fingerprint=np.array([self.fingerprint], dtype=np.uint64),
        )

    @classmethod
    def load(cls, path: str) -> "RelationModel":
        from mitie_spark.models.artifact_path import resolve_artifact

        z = np.load(resolve_artifact(path), allow_pickle=False)
        return cls(
            preds=[str(p) for p in z["preds"]],
            W_sparse=z["W_sparse"],
            W_dense=z["W_dense"],
            b=z["b"],
            fingerprint=int(z["fingerprint"][0]) if "fingerprint" in z else None,
        )


def train_relation_model(
    preds: list[str],
    examples,
    fs=None,
    C: tuple[float, float] | None = None,
    auto_tune: bool = False,
    beta: float = 0.1,
) -> RelationModel:
    """examples: [(tokens, arg1, arg2, pos_pred | None)]; every candidate is a
    negative for all detectors except its positive predicate (if any).

    Each detector is the reference trainer's DCD linear SVM
    (models/dcd.brdt_train, binary_relation_detector_trainer.cpp:176-238):
    the sample is the sorted, duplicate-summed sparse n-gram pairs plus the
    dense argument block at offset ``HR``, labels ±1.  ``C`` pins the
    per-class (C_pos, C_neg) pair; ``auto_tune`` runs the
    BOBYQA 6-fold-CV F-``beta`` C search (skipped at ≤ 6 positives, like
    the reference); otherwise C is the reference's untuned 5000/n·5/6.  dcd
    scores w·x − b while ``RelationModel`` adds b, so b is negated."""
    from mitie_spark.models.dcd import brdt_train
    from mitie_spark.models.ner_model import DEFAULT_FS

    fs = fs or DEFAULT_FS
    dense_dim = 2 * fs.dims
    samples = []
    for tokens, a1, a2, _ in examples:
        idxs, vals, dense = relation_features(tokens, None, a1, a2, fs=fs)
        uniq, inv = np.unique(idxs, return_inverse=True)
        summed = np.zeros(len(uniq))
        np.add.at(summed, inv, vals)
        samples.append((
            np.concatenate([uniq, HR + np.arange(dense_dim)]).astype(np.intp),
            np.concatenate([summed, dense]),
        ))
    k = len(preds)
    Ws = np.zeros((k, HR))
    Wd = np.zeros((k, dense_dim))
    b = np.zeros(k)
    for d, pred in enumerate(preds):
        labels = [1.0 if pos == pred else -1.0 for _, _, _, pos in examples]
        w, bias, _ = brdt_train(
            samples,
            labels,
            num_pos=labels.count(1.0),
            beta=beta,
            auto_tune=auto_tune,
            C_override=C,
        )
        Ws[d] = w[:HR]
        Wd[d] = w[HR:]
        b[d] = -bias
    return RelationModel(preds, Ws, Wd, b, fingerprint=fs.fingerprint)
