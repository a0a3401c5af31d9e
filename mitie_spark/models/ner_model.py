"""NER model — BILOU sequence segmenter + chunk classifier, NumPy end-to-end.

Re-expresses the reference's two-part NER (SURVEY.md §2.3 M1+M2):

- M1: first-order BILOU chain decoded by Viterbi with illegal-transition
  rejection, window-3 emission features
  (/root/reference/dlib/dlib/svm/sequence_segmenter.h:131-253,363-408;
  find_max_factor_graph_viterbi.h:59). Trained, like the reference, as a
  structured SVM (models/svm_train.train_segmenter_svm) on the
  deterministic synthetic corpus (the reference's binary models are not
  vendored — makefile:13-17 downloads them).
- M2: per-chunk classification with the reference's FULL hashed feature set
  (word/stem/prefix/suffix hashes, shape indicator features, caps-pattern,
  ±1/±2 context words and 8-token context bags seeds 1000/1001, all over
  MAX_FEAT=500000 with ±1.5 random signs and duplicate-summing) plus five
  normalized dense word-vector blocks appended at index MAX_FEAT+i, then
  multiclass linear argmax with the "predicted class ≥ num_tags ⇒ drop
  chunk" rule (/root/reference/mitielib/src/ner_feature_extraction.cpp:
  167-388; named_entity_extractor.cpp:147-174; dlib/svm/function.h:752-832),
  trained with the OCA multiclass SVM port
  (models/svm_train.train_chunk_classifier_svm).

Word features are pluggable (T9): either the deterministic hashed-embedding
standin (no dictionary needed) or trained CCA word vectors
(models/word_vectors.WordVectors — the total_word_feature_extractor
equivalent, embedded inside the saved model exactly like the reference
serializes its extractor inside ner_model.dat,
named_entity_extractor.cpp:35-118).

All inference is batched NumPy inside mapInPandas (SURVEY.md §4): the model
object is broadcast once per executor, never per batch; chunk scoring stacks
every chunk in the Arrow batch into one segment-reduce + matmul.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from mitie_spark.functions.hashing import (
    MAX_FEAT,
    hashed_embedding,
    ifeat,
    make_feat,
    prefix,
    shash,
    suffix,
)
from mitie_spark.functions.predicates import (
    alternating_caps_in_middle,
    caps_pattern,
    contains_hyphen,
    contains_letters,
    contains_letters_and_numbers,
    contains_numbers,
    is_all_caps,
    is_all_numbers,
    is_caps,
)
from mitie_spark.functions.stemmer import stem_word

# BILOU state ids (sequence_segmenter.h uses the same 5-state layout when
# use_BIO_model == false; ner_feature_extraction.h:35)
O, B, I, L, U = 0, 1, 2, 3, 4
N_STATES = 5
NEG = -1e30

# legal transitions prev→cur (sequence_segmenter.h:131-206 reject_labeling)
_ALLOWED = np.full((N_STATES, N_STATES), NEG)
for prev, curs in {
    O: (O, B, U),
    B: (I, L),
    I: (I, L),
    L: (O, B, U),
    U: (O, B, U),
}.items():
    for c in curs:
        _ALLOWED[prev, c] = 0.0
_START_OK = np.array([0.0, 0.0, NEG, NEG, 0.0])  # O, B, U may start
_END_OK = np.array([0.0, NEG, NEG, 0.0, 0.0])  # O, L, U may end

# BIO variant (use_BIO_model == true, sequence_segmenter.h:137-146):
# our ids O=0, B=1, I=2; I may not follow O and may not start; no end rule
N_STATES_BIO = 3
_ALLOWED_BIO = np.full((N_STATES_BIO, N_STATES_BIO), NEG)
for prev, curs in {O: (0, 1), 1: (0, 1, 2), 2: (0, 1, 2)}.items():
    for c in curs:
        _ALLOWED_BIO[prev, c] = 0.0
_START_OK_BIO = np.array([0.0, 0.0, NEG])
_END_OK_BIO = np.zeros(N_STATES_BIO)

EMB_DIM = 32
SHAPE_DIM = 6
D = EMB_DIM + SHAPE_DIM  # per-token width of the DEFAULT (hashed) source
WINDOW = 3  # sequence_segmenter window_size (ner_feature_extraction.h:39)
SEG_DIM = WINDOW * D + 1  # + bias (default source; dynamic per fs otherwise)

TAGS = ["PERSON", "LOCATION", "ORGANIZATION"]
NOT_ENTITY = len(TAGS)  # drop rule: predicted class ≥ len(TAGS)

import zlib as _zlib


# ---------------------------------------------------------------------------
# word-feature sources (T9). The reference chains a murmur fingerprint of the
# word-feature extractor through every model and verifies it before
# predicting (named_entity_extractor.h:223-245, binary_relation_detector.h:
# 70-77); each source exposes .dims / .token_features / .fingerprint.
# ---------------------------------------------------------------------------


def shape_flags(word: str) -> np.ndarray:
    """6 ASCII shape flags (shape predicates per
    ner_feature_extraction.cpp:70-145)."""
    v = np.empty(SHAPE_DIM, dtype=np.float32)
    c0 = word[0] if word else ""
    v[0] = 1.0 if c0.isupper() else 0.0
    v[1] = 1.0 if word.isupper() else 0.0
    v[2] = 1.0 if any(ch.isdigit() for ch in word) else 0.0
    v[3] = 1.0 if word.isalpha() else 0.0
    v[4] = min(len(word), 10) / 10.0
    v[5] = 1.0 if word.islower() else 0.0
    return v


@lru_cache(maxsize=500_000)
def _hashed_token_features(word: str) -> np.ndarray:
    """Dense per-token features: hashed embedding + ASCII shape flags."""
    v = np.empty(D, dtype=np.float32)
    v[:EMB_DIM] = hashed_embedding(word, EMB_DIM)
    v[EMB_DIM:] = shape_flags(word)
    return v


class HashedFeatureSource:
    """Deterministic murmur-derived embeddings — dictionary-free standin for
    the CCA vectors (same lookup semantics, no broadcast needed). v2: the
    chunk-classifier feature space moved to the reference-exact extractor."""

    kind = "hashed"
    dims = D
    fingerprint = _zlib.crc32(f"hashed-emb-v2:{EMB_DIM}:{SHAPE_DIM}".encode())

    def token_features(self, word: str) -> np.ndarray:
        return _hashed_token_features(word)


class ShapeAugmentedWordVectors:
    """Trained CCA word vectors (T9) + the 6 ASCII shape flags.

    The reference's segmenter sees ONLY the 271-dim dictionary vectors —
    workable because its extractor is trained on billions of tokens with a
    400k-word vocabulary and the segmenter is a structured SVM. On the
    synthetic corpora here, a pure-CCA source left the averaged-perceptron
    segmenter first trained on it ~0.2%% short of exact boundary recovery
    (capitalization only reaches it through morph substrings), so the shape
    flags are appended as a documented extension; the CCA + morph + OOV
    layout underneath is the reference's
    (total_word_feature_extractor.h:107-137)."""

    kind = "wordvec+shape"

    def __init__(self, wv):
        self.wv = wv

    @property
    def dims(self) -> int:
        return self.wv.dims + SHAPE_DIM

    @property
    def fingerprint(self) -> int:
        return _zlib.crc32(b"+shape6", self.wv.fingerprint)

    def token_features(self, word: str) -> np.ndarray:
        cache = self.wv._tf_cache
        key = ("+s", word)
        v = cache.get(key)
        if v is None:
            v = np.concatenate(
                [self.wv.token_features(word), shape_flags(word)]
            )
            if len(cache) < 1_000_000:
                cache[key] = v
        return v


DEFAULT_FS = HashedFeatureSource()


def sentence_matrix(tokens: list[str], fs=None) -> np.ndarray:
    """(n, fs.dims) float32 token feature matrix (sentence_to_feats analog,
    ner_feature_extraction.cpp:13-23)."""
    fs = fs or DEFAULT_FS
    if not tokens:
        return np.zeros((0, fs.dims), dtype=np.float32)
    tf = fs.token_features
    return np.stack([tf(t) for t in tokens])


def window_matrix(X: np.ndarray) -> np.ndarray:
    """(n, 3d+1): [x_{i-1}, x_i, x_{i+1}, 1] with zero padding at the edges
    (the window-3 emission features of sequence_segmenter.h:208-253)."""
    n, d = X.shape
    W = np.zeros((n, WINDOW * d + 1), dtype=np.float32)
    if n == 0:
        return W
    W[1:, 0:d] = X[:-1]
    W[:, d : 2 * d] = X
    W[:-1, 2 * d : 3 * d] = X[1:]
    W[:, -1] = 1.0
    return W


def viterbi(
    emissions: np.ndarray,
    trans: np.ndarray,
    allowed: np.ndarray | None = None,
    start_ok: np.ndarray | None = None,
    end_ok: np.ndarray | None = None,
) -> np.ndarray:
    """Exact first-order decode with BILOU (default) or BIO constraints
    (find_max_factor_graph_viterbi.h:59; O(n·S²))."""
    n, S = emissions.shape
    if allowed is None:
        allowed, start_ok, end_ok = _ALLOWED, _START_OK, _END_OK
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    T = trans + allowed
    dp = emissions[0] + start_ok
    back = np.zeros((n, S), dtype=np.int8)
    for t in range(1, n):
        cand = dp[:, None] + T  # (prev, cur)
        back[t] = np.argmax(cand, axis=0)
        dp = cand[back[t], np.arange(S)] + emissions[t]
    dp = dp + end_ok
    path = np.zeros(n, dtype=np.int64)
    path[-1] = int(np.argmax(dp))
    for t in range(n - 1, 0, -1):
        path[t - 1] = back[t, path[t]]
    return path


def viterbi_batch(
    emissions_list: list[np.ndarray],
    trans: np.ndarray,
    allowed: np.ndarray | None = None,
    start_ok: np.ndarray | None = None,
    end_ok: np.ndarray | None = None,
) -> list[np.ndarray]:
    """Decode a batch of sequences in one vectorized DP: identical
    arithmetic and argmax tie-breaking to per-doc ``viterbi`` (equivalence
    unit-tested), but the python-level loop runs max_len times per Arrow
    batch instead of sum(len) times — the per-step (B, S, S) NumPy ops
    amortize the interpreter overhead across documents."""
    B = len(emissions_list)
    if B == 0:
        return []
    if allowed is None:
        allowed, start_ok, end_ok = _ALLOWED, _START_OK, _END_OK
    S = trans.shape[0]
    T = trans + allowed
    lens = np.array([e.shape[0] for e in emissions_list], dtype=np.int64)
    Lmax = int(lens.max())
    if Lmax == 0:
        return [np.zeros(0, dtype=np.int64) for _ in range(B)]
    NEG = -1e30
    # np.zeros (calloc -> zero pages), not np.full(0.0) (eager fill): one
    # long doc pads every row to Lmax (~30x padding at median doc length)
    # and the eager fill alone cost ~30% of segment_batch wall.
    E = np.zeros((B, Lmax, S))
    for b, e in enumerate(emissions_list):
        if lens[b]:
            E[b, : lens[b]] = e
    dp = np.full((B, S), NEG)
    nz = lens > 0
    dp[nz] = E[nz, 0] + start_ok
    back = np.zeros((B, Lmax, S), dtype=np.int8)
    for t in range(1, Lmax):
        active = lens > t
        if not active.any():
            break
        cand = dp[active][:, :, None] + T[None]  # (A, prev, cur)
        bt = np.argmax(cand, axis=1).astype(np.int8)  # (A, cur)
        dp_a = (
            np.take_along_axis(cand, bt[:, None, :].astype(np.int64), axis=1)[
                :, 0, :
            ]
            + E[active, t]
        )
        dp[active] = dp_a
        back[active, t] = bt
    # batched backtrack: one assignment per time step over the active docs
    path_arr = np.zeros((B, Lmax), dtype=np.int64)
    final = dp + end_ok
    last_state = np.argmax(final, axis=1)
    idx = np.nonzero(nz)[0]
    path_arr[idx, lens[idx] - 1] = last_state[idx]
    for t in range(Lmax - 1, 0, -1):
        active = lens > t
        if not active.any():
            continue
        path_arr[active, t - 1] = back[
            active, t, path_arr[active, t]
        ]
    return [path_arr[b, : lens[b]].copy() for b in range(B)]


def labels_to_chunks(path: np.ndarray) -> list[tuple[int, int]]:
    """BILOU label path → half-open token ranges
    (sequence_segmenter.h:389-408)."""
    chunks = []
    start = None
    for i, s in enumerate(path):
        if s == U:
            chunks.append((i, i + 1))
            start = None
        elif s == B:
            start = i
        elif s == L and start is not None:
            chunks.append((start, i + 1))
            start = None
        elif s == O:
            start = None
    return chunks


def chunks_to_labels(n: int, chunks: list[tuple[int, int]]) -> np.ndarray:
    path = np.full(n, O, dtype=np.int64)
    for s, e in chunks:
        if e - s == 1:
            path[s] = U
        else:
            path[s] = B
            path[s + 1 : e - 1] = I
            path[e - 1] = L
    return path


def labels_to_chunks_bio(path: np.ndarray) -> list[tuple[int, int]]:
    """BIO label path (O=0, B=1, I=2) → half-open ranges: a B starts a
    segment that consumes following I's (sequence_segmenter.h:372-387)."""
    chunks = []
    i = 0
    n = len(path)
    while i < n:
        if path[i] == 1:
            begin = i
            i += 1
            while i < n and path[i] == 2:
                i += 1
            chunks.append((begin, i))
        else:
            i += 1
    return chunks


def chunks_to_labels_bio(n: int, chunks: list[tuple[int, int]]) -> np.ndarray:
    path = np.zeros(n, dtype=np.int64)
    for s, e in chunks:
        path[s] = 1
        path[s + 1 : e] = 2
    return path


# ---------------------------------------------------------------------------
# chunk classifier features — exact port of extract_ner_chunk_features
# (ner_feature_extraction.cpp:167-388): every hashed feature of the reference
# at its original seed, over MAX_FEAT=500000, duplicates summed
# (make_sparse_vector_inplace), dense blocks appended at index ≥ MAX_FEAT.
# ---------------------------------------------------------------------------

N_DENSE_BLOCKS = 5
CLS_DENSE = N_DENSE_BLOCKS * D  # default source; dynamic per fs otherwise

# per-role seeds, straight from the cpp:
# (word, stem, prefix, suffix, caps, all_caps, all_caps_size_base,
#  numbers, letters, letters+numbers, all_numbers, hyphen, alt_caps)
# role 'tok'  = every chunk token            (cpp:188-212)
# role 'first'= words[start]                 (cpp:221-243; caps seed 27 — the
#               reference REUSES the hyphen seed here; replicated, not fixed)
# role 'last' = words[end-1]                 (cpp:245-261)
# role 'before'  = words[start-1]            (cpp:263-289)
# role 'before2' = words[start-2]            (cpp:291-315)
# role 'after2'  = words[end+1]              (cpp:317-341)
# role 'after'   = words[end]                (cpp:343-369)
_ROLE_SEEDS = {
    "tok": (0, 10, 50, 51, 21, 22, 6622, 23, 24, 25, 26, 27, 500),
    "first": (1, 11, 52, 53, 27, 28, 6628, 29, 30, 31, 32, 33, 501),
    "last": (2, 12, 54, 55, 34, 35, 6635, 36, 37, 38, 39, 40, 502),
    "before": (3, 13, 56, 57, 60, 61, 6661, 62, 63, 64, 65, 66, 503),
    "before2": (103, 113, 156, 157, 160, 161, 66161, 162, 163, 164, 165, 166, 504),
    "after2": (104, 114, 158, 159, 167, 168, 66168, 169, 170, 171, 172, 173, 505),
    "after": (4, 14, 58, 59, 67, 68, 6668, 69, 70, 71, 72, 73, 506),
}

CONTEXT_BAG = 8  # wide_range = chunk ± 8 tokens (cpp:180-186)
SEED_BAG_BEFORE = 1000
SEED_BAG_AFTER = 1001


@lru_cache(maxsize=4096)
def _ifeat_feat(seed: int) -> tuple[int, float]:
    return make_feat(ifeat(seed))


@lru_cache(maxsize=2_000_000)
def _word_feat(word: str, seed: int) -> tuple[int, float]:
    return make_feat(shash(word, seed))


# caps_pattern collapses to two possible hashes (val ∈ {0,1} — the
# reference ORs every probe into bit 0; predicates.py documents the quirk)
_CAPS_FEAT = {v: make_feat(caps_pattern(["A" if v else "a"], 0, 1)) for v in (0, 1)}


@lru_cache(maxsize=1_000_000)
def _role_feats(word: str, role: str) -> tuple[tuple[int, float], ...]:
    """All hashed features the reference emits for ``word`` in ``role`` —
    pure function of (word, role), so one cache hit replaces ~8 murmur
    calls per occurrence."""
    (
        w_seed, st_seed, p_seed, s_seed,
        c_caps, c_all, size_base,
        c_num, c_let, c_both, c_allnum, c_hyph, c_alt,
    ) = _ROLE_SEEDS[role]
    out = [
        _word_feat(word, w_seed),
        _word_feat(stem_word(word), st_seed),
        make_feat(prefix(word, p_seed)),
        make_feat(suffix(word, s_seed)),
    ]
    if is_caps(word):
        out.append(_ifeat_feat(c_caps))
    if is_all_caps(word):
        out.append(_ifeat_feat(c_all))
        if 1 <= len(word) <= 4:
            out.append(_ifeat_feat(size_base + len(word) - 1))
    if contains_numbers(word):
        out.append(_ifeat_feat(c_num))
    if contains_letters(word):
        out.append(_ifeat_feat(c_let))
    if contains_letters_and_numbers(word):
        out.append(_ifeat_feat(c_both))
    if is_all_numbers(word):
        out.append(_ifeat_feat(c_allnum))
    if contains_hyphen(word):
        out.append(_ifeat_feat(c_hyph))
    if alternating_caps_in_middle(word):
        out.append(_ifeat_feat(c_alt))
    return tuple(out)


def dlib_f32_mean(rows: np.ndarray) -> np.ndarray:
    """Bit-exact analog of ``m += row; ... ; m /= count`` on dlib
    matrix<float>: sequential float32 row accumulation, then a float32
    reciprocal multiply (matrix.h:1509 routes /= through operator/ which
    multiplies by ``one/static_cast<float>(s)``, matrix.h:723-731). Both
    the NER chunk mean (ner_feature_extraction.cpp:189-218) and the
    relation argument means (binary_relation_detector.cpp:121-133) use
    this accumulation, and NumPy's pairwise ``mean`` is one ulp off."""
    rows = np.ascontiguousarray(rows, dtype=np.float32)
    if rows.shape[0] == 0:
        # np.add.accumulate(...)[-1] would raise a bare IndexError; fail
        # with the actual contract violation (the reference never takes a
        # mean over an empty range — callers must guard their windows)
        raise ValueError("dlib_f32_mean: empty range (no rows to average)")
    return np.add.accumulate(rows, axis=0)[-1] * np.float32(
        np.float32(1.0) / np.float32(rows.shape[0])
    )


def _norm_block(v: np.ndarray) -> np.ndarray:
    """Bit-exact port of the reference block scaling (cpp:371-376):
    ``first /= lnorm*length(first)+1e-10`` on a dlib matrix<float>.

    dlib's length() is sqrt of a SEQUENTIAL float32 sum of float32 squares
    (matrix_utilities.h:339-350 + the scalar sum loop), the double
    ``0.5*len+1e-10`` is cast back to float32 by operator/= (matrix.h:1509,
    T=float), and each element divides float32/float32 with one rounding.
    NumPy's pairwise np.sum / float64 divide land one ulp off, which was
    measured to shift chunk scores ~1e-9 vs the compiled reference. Note
    dlib divides a float matrix by a scalar as a RECIPROCAL multiply
    (matrix.h:723-731: ``m * (one/static_cast<float>(s))``)."""
    v = np.ascontiguousarray(v, dtype=np.float32)
    sq = v * v  # float32 elementwise, single-rounded like squared(m)
    s = np.add.accumulate(sq)[-1] if sq.size else np.float32(0.0)
    length = np.float32(np.sqrt(np.float32(s)))
    denom = np.float32(0.5 * float(length) + 1e-10)
    recip = np.float32(np.float32(1.0) / denom)
    return v * recip  # float32 multiply, single rounding per element


def chunk_features(
    tokens: list[str], X: np.ndarray, start: int, end: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """extract_ner_chunk_features (cpp:167-388) → (sorted unique sparse
    indices over MAX_FEAT, summed values, dense (5·d,) block vector).

    The multiset of hashed (index, ±1.5) pairs matches the reference
    exactly; duplicates are summed as make_sparse_vector_inplace does. The
    dense part is [first, last, mean, before, after], each block scaled by
    1/(0.5·‖v‖+1e-10), zeros at sentence boundaries (cpp:371-383)."""
    n = len(tokens)
    pairs: list[tuple[int, float]] = []
    ext = pairs.extend
    app = pairs.append

    # 8-token context bags (cpp:180-186)
    for i in range(max(0, start - CONTEXT_BAG), start):
        app(_word_feat(tokens[i], SEED_BAG_BEFORE))
    for i in range(end, min(n, end + CONTEXT_BAG)):
        app(_word_feat(tokens[i], SEED_BAG_AFTER))

    # per chunk token (cpp:188-212)
    for i in range(start, end):
        ext(_role_feats(tokens[i], "tok"))

    # caps pattern over {prev, first, last, next} (cpp:216)
    val = 0
    if start != 0 and is_caps(tokens[start - 1]):
        val = 1
    if is_caps(tokens[start]):
        val = 1
    if is_caps(tokens[end - 1]):
        val = 1
    if end < n and is_caps(tokens[end]):
        val = 1
    app(_CAPS_FEAT[val])

    ext(_role_feats(tokens[start], "first"))
    ext(_role_feats(tokens[end - 1], "last"))
    if start > 0:
        ext(_role_feats(tokens[start - 1], "before"))
    if start > 1:
        ext(_role_feats(tokens[start - 2], "before2"))
    if end + 1 < n:
        ext(_role_feats(tokens[end + 1], "after2"))
    if end < n:
        ext(_role_feats(tokens[end], "after"))

    # make_sparse_vector_inplace: sort by index, sum duplicates
    idx = np.fromiter((p[0] for p in pairs), np.int64, len(pairs))
    val_arr = np.fromiter((p[1] for p in pairs), np.float64, len(pairs))
    order = np.argsort(idx, kind="stable")
    idx = idx[order]
    val_arr = val_arr[order]
    first_mask = np.empty(len(idx), dtype=bool)
    first_mask[0] = True
    np.not_equal(idx[1:], idx[:-1], out=first_mask[1:])
    starts = np.nonzero(first_mask)[0]
    sums = np.add.reduceat(val_arr, starts)

    d = X.shape[1]
    # all five dense blocks normalize through one batched (5, d) matrix —
    # same dlib float32 rounding as _norm_block (sequential squares sum,
    # float32 reciprocal multiply) at a fifth of the Python-call count;
    # np.zeros is calloc-backed so boundary blocks stay untouched pages
    M = np.zeros((N_DENSE_BLOCKS, d), dtype=np.float32)
    M[0] = X[start]
    M[1] = X[end - 1]
    if end - start == 1:
        M[2] = X[start]  # sum of one row; *= 1.0f is exact
    else:
        M[2] = np.add.accumulate(X[start:end], axis=0)[-1]
        M[2] *= np.float32(np.float32(1.0) / np.float32(end - start))
    if start > 0:
        M[3] = X[start - 1]
    if end < n:
        M[4] = X[end]
    sq = M * M
    s = np.add.accumulate(sq, axis=1)[:, -1]
    lengths = np.sqrt(s)  # float32 in, float32 out, correctly rounded
    denoms = (0.5 * lengths.astype(np.float64) + 1e-10).astype(np.float32)
    recips = np.float32(1.0) / denoms
    dense = (M * recips[:, None]).reshape(-1)
    return idx[starts], sums, dense


def score_feature_rows(rows, W_sparse, W_dense, b) -> np.ndarray:
    """Batched multiclass scoring of feature rows [(idxs, vals, dense)] →
    (N, K) scores: one segment-reduce per class over the concatenated
    sparse parts + one dense matmul. THE single scoring kernel — the NER
    chunk classifier and the relation detectors both route through here,
    so the bit-identity invariant lives in exactly one place:

    einsum, not BLAS matvec: BLAS dgemv picks N-dependent kernels
    (measured last-ulp drift between N=1 and N=60), while einsum's
    per-element summation order is independent of N — so batched and
    per-item scoring stay bit-identical. Sparse parts reduce via
    np.add.reduceat over the concatenated segments for the same reason."""
    K = b.shape[0]
    N = len(rows)
    lens = np.fromiter((len(r[0]) for r in rows), np.int64, N)
    all_idx = np.concatenate([r[0] for r in rows])
    all_val = np.concatenate([r[1] for r in rows])
    offs = np.zeros(N, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    S = np.empty((N, K), dtype=np.float64)
    # float32→float64 is exact and einsum upcasts operands anyway, so the
    # cast cannot change values — it only fixes the accumulator dtype.
    # copy=False: the relation path stacks already-float64 rows, and a
    # second full copy of the (N, 2d) block per Arrow batch is the kind
    # of fresh-buffer traffic this host pays ~15 MB/s for
    dense = np.stack([r[2] for r in rows]).astype(np.float64, copy=False)
    for k in range(K):
        contrib = W_sparse[k, all_idx] * all_val
        S[:, k] = np.add.reduceat(contrib, offs) + np.einsum(
            "nd,d->n", dense, W_dense[k]
        )
    S += b
    return S


class NerModel:
    """Weights container + predict; save/load as .npz (broadcastable).

    ``fs``: the word-feature source (T9) — HashedFeatureSource (default) or
    a trained WordVectors; embedded in the artifact like the reference
    embeds its total_word_feature_extractor inside ner_model.dat."""

    def __init__(
        self,
        W_seg: np.ndarray | None = None,
        T_seg: np.ndarray | None = None,
        W_cls_sparse: np.ndarray | None = None,
        W_cls_dense: np.ndarray | None = None,
        b_cls: np.ndarray | None = None,
        tags: list[str] | None = None,
        fs=None,
        use_bio: bool = False,
    ):
        self.fs = fs or DEFAULT_FS
        d = self.fs.dims
        k = NOT_ENTITY + 1
        # use_BIO_model option (sequence_segmenter.h; MITIE ships BILOU —
        # ner_feature_extraction.h:35 — but the reference supports both)
        self.use_bio = bool(use_bio)
        if self.use_bio:
            self._n_states = N_STATES_BIO
            self._allowed, self._start_ok, self._end_ok = (
                _ALLOWED_BIO, _START_OK_BIO, _END_OK_BIO,
            )
            self._to_chunks = labels_to_chunks_bio
        else:
            self._n_states = N_STATES
            self._allowed, self._start_ok, self._end_ok = (
                _ALLOWED, _START_OK, _END_OK,
            )
            self._to_chunks = labels_to_chunks
        ns = self._n_states
        self.W_seg = (
            W_seg if W_seg is not None else np.zeros((ns, WINDOW * d + 1))
        )
        self.T_seg = T_seg if T_seg is not None else np.zeros((ns, ns))
        self.W_cls_sparse = (
            W_cls_sparse if W_cls_sparse is not None else np.zeros((k, MAX_FEAT))
        )
        self.W_cls_dense = (
            W_cls_dense
            if W_cls_dense is not None
            else np.zeros((k, N_DENSE_BLOCKS * d))
        )
        self.b_cls = b_cls if b_cls is not None else np.zeros(k)
        self.tags = tags or TAGS

    def X(self, tokens: list[str]) -> np.ndarray:
        """Token feature matrix under this model's word-feature source."""
        return sentence_matrix(tokens, self.fs)

    # --- prediction (named_entity_extractor.cpp:132-174,178-225) ---
    def _score_feature_rows(self, rows):
        """Batched multiclass scoring (see ``score_feature_rows``)."""
        return score_feature_rows(
            rows, self.W_cls_sparse, self.W_cls_dense, self.b_cls
        )

    def segment_batch(
        self, Xs: list[np.ndarray], max_padded_cells: int = 1_000_000
    ):
        """Batched segmentation: one stacked emissions matmul for the whole
        batch + the vectorized Viterbi, which is value-identical to per-doc
        ``viterbi`` (equivalence unit-tested).

        The Viterbi DP pads to the longest doc in its group, so docs are
        grouped by length with total padded cells (group_size × max_len)
        capped: one 30k-token outlier in a 2048-row Arrow batch would
        otherwise inflate the padded tensors to B×Lmax ≈ gigabytes. With
        the cap, a skewed doc lands in its own small group and costs only
        itself, as if it had been decoded alone."""
        if not Xs:
            return []
        # DELIBERATE exception to the einsum-for-scoring rule: the
        # emissions matmul is the extraction throughput hot spot, and
        # einsum (no BLAS) would cost several× wall. BLAS kernels are
        # batch-size-dependent in principle, so a doc decoded alone vs in
        # a batch could see emissions differing in the last ulp — the
        # batched-equivalence test (test_batched_segmentation_matches_per_doc)
        # regression-pins that segmentations agree; Viterbi decisions ride
        # score margins far above one ulp on real weights
        Ws = [window_matrix(X) for X in Xs]
        allW = np.concatenate(Ws)
        allE = allW @ self.W_seg.T.astype(np.float32)
        offs = np.cumsum([0] + [w.shape[0] for w in Ws])
        ems = [
            allE[offs[i] : offs[i + 1]].astype(np.float64)
            for i in range(len(Ws))
        ]
        out: list = [None] * len(Xs)
        vb = lambda group: viterbi_batch(  # noqa: E731
            [ems[j] for j in group],
            self.T_seg,
            self._allowed,
            self._start_ok,
            self._end_ok,
        )
        order = sorted(range(len(Xs)), key=lambda i: ems[i].shape[0])
        group: list[int] = []
        for i in order:
            n = ems[i].shape[0]  # ascending: n is the group max
            if group and (len(group) + 1) * max(n, 1) > max_padded_cells:
                for j, p in zip(group, vb(group)):
                    out[j] = self._to_chunks(p)
                group = []
            group.append(i)
        for j, p in zip(group, vb(group)):
            out[j] = self._to_chunks(p)
        return out

    def classify_chunks_batch(self, docs):
        """[(tokens, X, chunks)] → per-doc [(start, end, tag, score)] with
        NOT_ENTITY dropped (named_entity_extractor.cpp:147-174).

        Every chunk in the batch is scored in ONE stacked segment-reduce +
        matmul; ``score_feature_rows`` is batch-invariant, so a chunk's
        result does not depend on the batch it arrives in."""
        rows = [
            chunk_features(tokens, X, s, e)
            for tokens, X, chunks in docs
            for s, e in chunks
        ]
        if rows:
            S = self._score_feature_rows(rows)
            top = np.argmax(S, axis=1)
            # the reference surfaces dlib's RAW winning decision value
            # (w_best·x − b_best, function.h:800-813 via
            # mitie_ner_get_detection_score), not a top1−top2 margin — a
            # dlib-loaded model must produce the same scores users
            # calibrated thresholds against. b_cls is stored negated from
            # dlib's b, so S[k] IS dlib's w_k·x − b_k
            margins = S[np.arange(len(top)), top]
        n_tags = len(self.tags)
        out = []
        i = 0
        for _, _, chunks in docs:
            doc_out = []
            for s, e in chunks:
                k = int(top[i])
                if k < n_tags:
                    doc_out.append((s, e, self.tags[k], float(margins[i])))
                i += 1
            out.append(doc_out)
        return out

    def extract_entities_batch(self, tok_lists, Xs):
        """The one NER decode: ``Xs[i]`` is ``self.X(tok_lists[i])`` (the
        caller computes it, since relation scoring reuses it) → per-doc
        [(start, end, tag, score)], chunks classified NOT_ENTITY dropped
        (named_entity_extractor.cpp:147-174)."""
        chunk_lists = self.segment_batch(Xs)
        return self.classify_chunks_batch(
            list(zip(tok_lists, Xs, chunk_lists))
        )

    def extract_entities(self, tokens: list[str]):
        """One document's entities: ``extract_entities_batch`` on a batch
        of one."""
        return self.extract_entities_batch([tokens], [self.X(tokens)])[0]

    # --- serialization ---
    def save(self, path: str) -> None:
        # sparse weights stored as (row, col, val) triplets: only features
        # seen in training are nonzero, so the artifact stays KB-sized
        # instead of k×500000 dense floats
        r, c = np.nonzero(self.W_cls_sparse)
        arrays = dict(
            W_seg=self.W_seg,
            T_seg=self.T_seg,
            W_cls_shape=np.array(self.W_cls_sparse.shape, dtype=np.int64),
            W_cls_rows=r.astype(np.int32),
            W_cls_cols=c.astype(np.int64),
            W_cls_vals=self.W_cls_sparse[r, c],
            W_cls_dense=self.W_cls_dense,
            b_cls=self.b_cls,
            tags=np.array(self.tags),
            fs_kind=np.array([self.fs.kind]),
            use_bio=np.array([self.use_bio]),
            # uint64, not int64: dlib murmur fingerprints are unsigned and
            # ~half of real models have the high bit set — an int64 array
            # here is built eagerly inside this dict literal and would
            # OverflowError before any branch below could override it
            fingerprint=np.array([self.fs.fingerprint], dtype=np.uint64),
        )
        if self.fs.kind in ("wordvec", "wordvec+shape"):
            wv = self.fs.wv if self.fs.kind == "wordvec+shape" else self.fs
            arrays.update(
                wv_words=np.array(wv.words),
                wv_core=wv.core,
                wv_hash_table=wv.substring_set.hash_table,
                wv_max_substr_len=np.array(
                    [wv.substring_set.max_substr_len]
                ),
                wv_morph_trans=wv.morph_trans,
                wv_cca_dim=np.array([wv.cca_dim]),
            )
        elif self.fs.kind == "dlib":
            arrays.update(
                dl_words=np.array(self.fs.words),
                dl_vectors=self.fs.vectors,
                dl_non_morph=np.array([self.fs.non_morph_feats]),
                dl_hash_table=self.fs.substring_set.hash_table,
                dl_max_substr_len=np.array(
                    [self.fs.substring_set.max_substr_len]
                ),
                dl_morph_trans=self.fs.morph_trans,
            )
        np.savez_compressed(path, **arrays)

    @classmethod
    def load(cls, path: str) -> "NerModel":
        from mitie_spark.models.artifact_path import resolve_artifact

        z = np.load(resolve_artifact(path), allow_pickle=False)
        kind = str(z["fs_kind"][0]) if "fs_kind" in z else "hashed"
        if kind in ("wordvec", "wordvec+shape"):
            from mitie_spark.functions.morphology import ApproximateSubstringSet
            from mitie_spark.models.word_vectors import WordVectors

            sset = ApproximateSubstringSet()
            sset.hash_table = z["wv_hash_table"]
            sset.max_substr_len = int(z["wv_max_substr_len"][0])
            fs = WordVectors(
                [str(w) for w in z["wv_words"]],
                z["wv_core"],
                sset,
                z["wv_morph_trans"],
                int(z["wv_cca_dim"][0]),
            )
            if kind == "wordvec+shape":
                fs = ShapeAugmentedWordVectors(fs)
        elif kind == "dlib":
            from mitie_spark.sources.dlib_models import (
                DlibTotalWordFeatureExtractor,
            )
            from mitie_spark.functions import morphology as _morph

            fs = DlibTotalWordFeatureExtractor(
                {
                    "fingerprint": int(z["fingerprint"][0]),
                    "non_morph_feats": int(z["dl_non_morph"][0]),
                    "words": [str(w) for w in z["dl_words"]],
                    "vectors": z["dl_vectors"],
                    "morph": {
                        "substrings": {
                            "mask": _morph._MASK,
                            "mask_bits": _morph._MASK_BITS,
                            "init_hash": _morph._INIT_HASH,
                            "max_substr_len": int(z["dl_max_substr_len"][0]),
                            "hash_table": z["dl_hash_table"],
                            "crc_table": _morph._CRC,
                        },
                        "morph_trans": z["dl_morph_trans"],
                    },
                }
            )
        else:
            fs = DEFAULT_FS
        if "fingerprint" in z and int(z["fingerprint"][0]) != fs.fingerprint:
            raise ValueError(
                "NER model was trained against a different word-feature "
                "space (fingerprint mismatch) — retrain or ship the matching "
                "feature code (reference: named_entity_extractor.h:223-245)"
            )
        W = np.zeros(tuple(z["W_cls_shape"]), dtype=np.float64)
        W[z["W_cls_rows"], z["W_cls_cols"]] = z["W_cls_vals"]
        return cls(
            W_seg=z["W_seg"],
            T_seg=z["T_seg"],
            W_cls_sparse=W,
            W_cls_dense=z["W_cls_dense"],
            b_cls=z["b_cls"],
            tags=[str(t) for t in z["tags"]],
            fs=fs,
            use_bio=bool(z["use_bio"][0]) if "use_bio" in z else False,
        )
