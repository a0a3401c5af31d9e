"""Max-margin structured-SVM training for the sequence segmenter.

Reference solver: dlib ``structural_sequence_segmentation_trainer`` driven by
``ner_trainer.cpp:498-572`` (C=20, eps=0.01, max 2000 iterations,
loss_per_missed_segment=3.0, BOBYQA-tuned over C∈[0.1,100] × loss∈[1,10]
maximizing 2-fold CV recall). The dlib objective
(``structural_svm_sequence_labeling_problem.h``) is

    min_w  0.5·||w||² + (C/N) · Σ_i ξ_i
    ξ_i = max_y [ Δ(y_i, y) + w·ψ(x_i, y) ] − w·ψ(x_i, y_i)

with margin-rescaled per-token loss Δ(y*, y) = Σ_t [y_t ≠ y*_t] ·
loss_values[y*_t]: the loss charged at a mislabeled token depends only on
the GOLD label there (``structural_svm_sequence_labeling_problem.h:232-240``),
and ``structural_sequence_segmentation_trainer.h:158-170`` sets
loss_values = loss_per_missed_segment for every in-segment label
(B/I/L/U under BILOU, B/I under BIO) and 1 for OUTSIDE.

The separation oracle — loss-augmented Viterbi — is exact here too (the
per-token loss folds into the emission scores). The QP is solved by
deterministic Pegasos-style stochastic subgradient (λ = 1/C after scaling
the dlib objective by 1/C, step 1/(λt); Shalev-Shwartz et al., ICML'07)
instead of dlib's OCA cutting planes: same objective, same oracle, same
hyperparameter semantics, different (simpler, distributable) optimizer.
``eps`` maps to the relative primal-objective improvement per epoch (dlib
stops at duality gap ≤ eps); ``max_iterations`` caps epochs.

``train_segmenter_svm_spark`` runs the same objective as distributed
full-batch subgradient descent: each round broadcasts (W, T), executors
decode the loss-augmented argmax for their partition of sentences and emit
partial subgradients (one small row per partition — the model is tiny, the
data is what scales), the driver aggregates and steps. This is the trainer
that survives a 100 TB corpus: per-round cost is one narrow mapInPandas
over the cached feature table plus an O(partitions) collect.
"""

from __future__ import annotations

import numpy as np

from mitie_spark.models.ner_model import (
    _ALLOWED,
    _ALLOWED_BIO,
    _END_OK,
    _END_OK_BIO,
    _START_OK,
    _START_OK_BIO,
    DEFAULT_FS,
    N_STATES,
    N_STATES_BIO,
    O,
    WINDOW,
    chunks_to_labels,
    chunks_to_labels_bio,
    labels_to_chunks,
    labels_to_chunks_bio,
    sentence_matrix,
    viterbi,
    window_matrix,
)

__all__ = [
    "train_segmenter_svm",
    "train_segmenter_svm_spark",
    "evaluate_segmenter",
    "cross_validate_segmenter",
    "tune_segmenter_params",
    "train_chunk_classifier_svm",
]


def _layout(use_bio: bool):
    if use_bio:
        return (
            N_STATES_BIO,
            _ALLOWED_BIO,
            _START_OK_BIO,
            _END_OK_BIO,
            chunks_to_labels_bio,
            labels_to_chunks_bio,
        )
    return N_STATES, _ALLOWED, _START_OK, _END_OK, chunks_to_labels, labels_to_chunks


def loss_values(use_bio: bool, loss_per_missed_segment: float) -> np.ndarray:
    """Per-GOLD-label loss vector (structural_sequence_segmentation_trainer.h:
    158-170): every in-segment label costs ``loss_per_missed_segment`` when
    mislabeled, OUTSIDE costs 1."""
    ns = N_STATES_BIO if use_bio else N_STATES
    lv = np.full(ns, float(loss_per_missed_segment))
    lv[O] = 1.0
    return lv


def _augmented_emissions(em: np.ndarray, gold: np.ndarray, lv: np.ndarray):
    """em[t,s] + (s != gold_t)·lv[gold_t] — the margin-rescaled node scores
    (map_prob in structural_svm_sequence_labeling_problem.h:232-240)."""
    aug = em + lv[gold][:, None]
    aug[np.arange(len(gold)), gold] -= lv[gold]
    return aug


def _featurize(sentences, fs, encode):
    """[(tokens, chunks)] → [(FX, gold)] with FX the window-3 emission
    feature matrix and gold the encoded label path."""
    return [
        (window_matrix(sentence_matrix(toks, fs)), encode(len(toks), chunks))
        for toks, chunks in sentences
        if toks
    ]


def _example_terms(FX, gold, W, T, allowed, start_ok, end_ok, lv):
    """One separation-oracle call: returns (slack, pred) for the current w."""
    em = FX @ W.T
    aug = _augmented_emissions(em, gold, lv)
    pred = viterbi(aug, T, allowed, start_ok, end_ok)
    if np.array_equal(pred, gold):
        return 0.0, pred
    wrong = pred != gold
    delta = float(lv[gold[wrong]].sum())
    score_pred = float(em[np.arange(len(pred)), pred].sum())
    score_gold = float(em[np.arange(len(gold)), gold].sum())
    if len(gold) > 1:
        score_pred += float(T[pred[:-1], pred[1:]].sum())
        score_gold += float(T[gold[:-1], gold[1:]].sum())
    return max(0.0, delta + score_pred - score_gold), pred


def train_segmenter_svm(
    sentences,
    C: float = 20.0,
    eps: float = 0.01,
    max_iterations: int = 2000,
    loss_per_missed_segment: float = 3.0,
    seed: int = 1234,
    fs=None,
    use_bio: bool = False,
    return_info: bool = False,
):
    """Structured-SVM segmenter (Pegasos on the dlib objective). Returns
    (W, T) in NerModel layout; with ``return_info`` also returns a dict
    with epochs_run and the final primal objective estimate."""
    fs = fs or DEFAULT_FS
    ns, allowed, start_ok, end_ok, encode, _ = _layout(use_bio)
    lv = loss_values(use_bio, loss_per_missed_segment)
    feats = _featurize(sentences, fs, encode)
    N = max(len(feats), 1)
    lam = 1.0 / float(C)  # dlib obj / C → λ/2·||w||² + (1/N)·Σξ
    W = np.zeros((ns, WINDOW * fs.dims + 1))
    T = np.zeros((ns, ns))
    rng = np.random.default_rng(seed)
    t = 0
    prev_obj = None
    epochs_run = 0
    obj = 0.0
    for _ in range(int(max_iterations)):
        epochs_run += 1
        slack_sum = 0.0
        for i in rng.permutation(len(feats)):
            t += 1
            FX, gold = feats[i]
            slack, pred = _example_terms(
                FX, gold, W, T, allowed, start_ok, end_ok, lv
            )
            slack_sum += slack
            # w ← (1 − 1/t)·w + (1/(λt))·δψ  (Pegasos; δψ = ψ(gold) − ψ(pred))
            shrink = 1.0 - 1.0 / t
            W *= shrink
            T *= shrink
            if slack > 0.0:
                eta = 1.0 / (lam * t)
                wrong = np.nonzero(pred != gold)[0]
                np.add.at(W, gold[wrong], eta * FX[wrong])
                np.add.at(W, pred[wrong], -eta * FX[wrong])
                if len(gold) > 1:
                    np.add.at(T, (gold[:-1], gold[1:]), eta)
                    np.add.at(T, (pred[:-1], pred[1:]), -eta)
        # primal objective in dlib units: 0.5||w||² + (C/N)·Σξ (ξ observed
        # at visit time — the standard online estimate)
        obj = 0.5 * (float((W * W).sum()) + float((T * T).sum())) + (
            C / N
        ) * slack_sum
        if prev_obj is not None and abs(prev_obj - obj) <= eps * max(
            abs(prev_obj), 1.0
        ):
            break
        prev_obj = obj
    if return_info:
        return W, T, {"epochs_run": epochs_run, "objective": obj}
    return W, T


# ---------------------------------------------------------------------------
# distributed full-batch subgradient (same objective, Spark-sized)
# ---------------------------------------------------------------------------


def train_segmenter_svm_spark(
    spark,
    sentences,
    C: float = 20.0,
    rounds: int = 60,
    loss_per_missed_segment: float = 3.0,
    fs=None,
    use_bio: bool = False,
    n_partitions: int = 8,
):
    """Distributed structured-SVM training: full-batch subgradient on the
    dlib objective. Per round: broadcast (W, T) → executors run the
    loss-augmented oracle over their sentences (mapInPandas, Arrow) and
    emit ONE partial-subgradient row per partition → driver sums
    O(partitions) small rows and steps w ← w − η_r·(λw − ḡ), η_r = 1/(λr).

    At 100 TB the per-round cost is a narrow scan of the cached token
    corpus; only the (states × window·dims) model and per-partition
    gradient rows ever move. Sentences: [(tokens, chunks)] or a DataFrame
    with columns (tokens: array<string>, starts: array<int>,
    ends: array<int>)."""
    import pandas as pd
    from pyspark.sql import DataFrame

    fs = fs or DEFAULT_FS
    ns, allowed, start_ok, end_ok, encode, _ = _layout(use_bio)
    lv = loss_values(use_bio, loss_per_missed_segment)
    dim = WINDOW * fs.dims + 1
    if not isinstance(sentences, DataFrame):
        pdf = pd.DataFrame(
            {
                "tokens": [list(t) for t, _ in sentences],
                "starts": [[s for s, _ in ch] for _, ch in sentences],
                "ends": [[e for _, e in ch] for _, ch in sentences],
            }
        )
        df = spark.createDataFrame(
            pdf, "tokens:array<string>,starts:array<int>,ends:array<int>"
        )
    else:
        df = sentences
    df = df.repartition(n_partitions).persist()
    lam = 1.0 / float(C)
    W = np.zeros((ns, dim))
    T = np.zeros((ns, ns))

    grad_schema = (
        "gw:array<double>,gt:array<double>,slack:double,n:bigint"
    )

    for r in range(1, int(rounds) + 1):
        bW = spark.sparkContext.broadcast((W, T))

        def part_grad(batches, _bW=bW):
            Wc, Tc = _bW.value
            gW = np.zeros_like(Wc)
            gT = np.zeros_like(Tc)
            slack_sum = 0.0
            n = 0
            for pdf_b in batches:
                for toks, ss, ee in zip(
                    pdf_b["tokens"], pdf_b["starts"], pdf_b["ends"]
                ):
                    toks = list(toks)
                    if not toks:
                        continue
                    n += 1
                    gold = encode(len(toks), list(zip(ss, ee)))
                    FX = window_matrix(sentence_matrix(toks, fs))
                    slack, pred = _example_terms(
                        FX, gold, Wc, Tc, allowed, start_ok, end_ok, lv
                    )
                    if slack > 0.0:
                        slack_sum += slack
                        wrong = np.nonzero(pred != gold)[0]
                        np.add.at(gW, gold[wrong], FX[wrong])
                        np.add.at(gW, pred[wrong], -FX[wrong])
                        if len(gold) > 1:
                            np.add.at(gT, (gold[:-1], gold[1:]), 1.0)
                            np.add.at(gT, (pred[:-1], pred[1:]), -1.0)
            yield pd.DataFrame(
                {
                    "gw": [gW.ravel().tolist()],
                    "gt": [gT.ravel().tolist()],
                    "slack": [slack_sum],
                    "n": [n],
                }
            )

        parts = df.mapInPandas(part_grad, schema=grad_schema).collect()
        bW.unpersist()
        gW = np.zeros_like(W)
        gT = np.zeros_like(T)
        N = 0
        for row in parts:
            gW += np.asarray(row["gw"]).reshape(W.shape)
            gT += np.asarray(row["gt"]).reshape(T.shape)
            N += int(row["n"])
        if N == 0:
            raise ValueError(
                "train_segmenter_svm_spark: no non-empty sentences"
            )
        # subgradient of λ/2||w||² + (1/N)Σξ is λw − ḡ where ḡ = Σδψ/N.
        # N = Σ per-partition n (the examples part_grad actually scored):
        # df.count() would include empty-token rows the workers skip,
        # under-scaling the step vs the local solver's objective
        eta = 1.0 / (lam * r)
        W = (1.0 - eta * lam) * W + (eta / N) * gW
        T = (1.0 - eta * lam) * T + (eta / N) * gT
    df.unpersist()
    return W, T


# ---------------------------------------------------------------------------
# evaluation / cross-validation / BOBYQA-analog tuning
# ---------------------------------------------------------------------------


def evaluate_segmenter(W, T, sentences, fs=None, use_bio: bool = False):
    """Exact-range segment (precision, recall, f1) — the semantics of
    dlib's test_sequence_segmenter (a predicted segment counts iff its
    exact (start, end) range is in the gold set)."""
    fs = fs or DEFAULT_FS
    _, allowed, start_ok, end_ok, _, decode = _layout(use_bio)
    tp = n_pred = n_gold = 0
    for toks, chunks in sentences:
        if not toks:
            continue
        FX = window_matrix(sentence_matrix(toks, fs))
        path = viterbi(FX @ W.T, T, allowed, start_ok, end_ok)
        pred = set(decode(path))
        gold = set((int(s), int(e)) for s, e in chunks)
        tp += len(pred & gold)
        n_pred += len(pred)
        n_gold += len(gold)
    p = tp / n_pred if n_pred else 1.0
    r = tp / n_gold if n_gold else 1.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return p, r, f1


def cross_validate_segmenter(
    sentences, folds: int = 2, seed: int = 99, **train_kw
):
    """k-fold CV (precision, recall, f1) of the SVM segmenter —
    cross_validate_sequence_segmenter semantics (ner_trainer.cpp:470-488
    uses the recall component as the BOBYQA objective)."""
    sents = [s for s in sentences if s[0]]
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(sents))
    ps, rs, fs_ = [], [], []
    for k in range(folds):
        test_idx = set(order[k::folds].tolist())
        train = [sents[i] for i in range(len(sents)) if i not in test_idx]
        test = [sents[i] for i in sorted(test_idx)]
        if not train or not test:
            continue
        W, T = train_segmenter_svm(train, **train_kw)
        p, r, f1 = evaluate_segmenter(
            W, T, test, fs=train_kw.get("fs"), use_bio=train_kw.get("use_bio", False)
        )
        ps.append(p)
        rs.append(r)
        fs_.append(f1)
    return (
        float(np.mean(ps)) if ps else 1.0,
        float(np.mean(rs)) if rs else 1.0,
        float(np.mean(fs_)) if fs_ else 0.0,
    )


LOSS_SCALE = 10.0  # ner_trainer.cpp:464


def tune_segmenter_params(
    sentences,
    folds: int = 2,
    max_evals: int = 100,
    max_iterations: int = 40,
    **train_kw,
):
    """2-D search over (C, loss_per_missed_segment) maximizing k-fold CV
    recall through the PORTED Powell BOBYQA (models/bobyqa.py) with the
    reference's exact calling convention (ner_trainer.cpp:535-560): search
    space (C, loss*LOSS_SCALE), start (20, 30), bounds (0.1, 10)-(100,
    100), npt=2n+1, rho_begin=15, rho_end=1, max 100 evals; on
    bobyqa_failure fall back to the defaults (20, 3), exactly as the
    reference's catch block does.  The optimizer's iterate trajectory is
    bit-identical to the compiled reference (tests/test_cross_engine.py::
    test_bobyqa_trajectory_bit_exact), so when the CV objective values
    agree the tuned parameters agree too.  Returns
    (best_C, best_loss, best_recall)."""
    from mitie_spark.models.bobyqa import BobyqaFailure, find_max_bobyqa

    cache: dict[tuple, float] = {}

    def f(pt):
        # BOBYQA legitimately revisits points (prelim + the final
        # ntrits=-1 step); the objective is deterministic, so caching
        # changes nothing but the wall-clock
        key = (float(pt[0]), float(pt[1]))
        if key not in cache:
            _, rec, _ = cross_validate_segmenter(
                sentences,
                folds=folds,
                C=float(pt[0]),
                loss_per_missed_segment=float(pt[1]) / LOSS_SCALE,
                max_iterations=max_iterations,
                **train_kw,
            )
            cache[key] = rec
        return cache[key]

    try:
        x, best = find_max_bobyqa(
            f, [20.0, 3.0 * LOSS_SCALE], 5, [0.1, 1.0 * LOSS_SCALE],
            [100.0, 10.0 * LOSS_SCALE], 15.0, 1.0, max_evals,
        )
    except BobyqaFailure:
        # ner_trainer.cpp:555-560 — optimization ran too long: defaults
        return 20.0, 3.0, float(cache.get((20.0, 30.0), 0.0))
    return float(x[0]), float(x[1]) / LOSS_SCALE, float(best)


def train_chunk_classifier_svm(
    examples,
    n_classes: int,
    C: float = 300.0,
    eps: float = 0.0001,
    max_iterations: int = 2000,
    beta: float = 0.5,
    num_labels: int | None = None,
    auto_tune: bool = False,
    fs=None,
):
    """The reference's EXACT chunk-classifier training
    (ner_trainer.cpp:361-405) via the OCA multiclass port (models/oca.py):
    samples are the dlib ner_sample layout (sorted hashed sparse pairs +
    the dense 5-block vector at MAX_FEAT+i, ner_feature_extraction.cpp
    :382-387), the optional C search is find_max_single_variable over the
    2-fold CV F-beta (run, like the reference, only when every class has
    >= 2 examples; falls back to C=300 on line-search failure), and the
    final train uses eps=1e-4 / 2000 iterations.

    Returns (W_sparse, W_dense, b) in NerModel layout — b NEGATED, because
    dlib scores w·x − b while score_feature_rows adds b (the same
    convention sources/dlib_models.py:1130 uses when loading .dat files).
    Classes absent from the training labels keep zero rows.
    """
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import chunk_features
    from mitie_spark.models.oca import (
        count_of_least_common_label,
        svm_multiclass_linear_train,
        tune_multiclass_C,
    )

    fs = fs or DEFAULT_FS
    samples, labels = [], []
    for tokens, s, e, y in examples:
        X = sentence_matrix(tokens, fs)
        idxs, vals, dense = chunk_features(tokens, X, s, e)
        idx_full = np.concatenate(
            [idxs.astype(np.int64),
             MAX_FEAT + np.arange(dense.shape[0], dtype=np.int64)]
        )
        val_full = np.concatenate([vals, dense.astype(np.float64)])
        samples.append((idx_full, val_full))
        labels.append(int(y))

    if auto_tune and count_of_least_common_label(labels) > 1:
        nl = num_labels if num_labels is not None else n_classes - 1
        C = tune_multiclass_C(
            samples, labels, beta=beta, num_labels=nl,
            max_iterations=max_iterations,
        )

    W, bd, labs, _ = svm_multiclass_linear_train(
        samples, labels, C=C, eps=eps, max_iterations=max_iterations
    )
    n_dense = 5 * fs.dims
    Ws = np.zeros((n_classes, MAX_FEAT))
    Wd = np.zeros((n_classes, n_dense))
    b = np.zeros(n_classes)
    for row, lab in enumerate(labs):
        Ws[lab] = W[row, :MAX_FEAT]
        Wd[lab, : W.shape[1] - MAX_FEAT] = W[row, MAX_FEAT:]
        b[lab] = -bd[row]
    return Ws, Wd, b
