"""Drop-in-style API mirroring the reference's Python binding surface.

Function/class names and call shapes follow /root/reference/mitielib/mitie.py
(§2.7 of SURVEY.md) so a user of the reference can switch with minimal edits:

- ``tokenize`` / ``tokenize_with_offsets``  (mitie.py:210-247)
- ``load_entire_file``                       (mitie.py:200-207)
- ``named_entity_extractor``                 (mitie.py:250-358)
- ``extract_binary_relation`` + ``binary_relation_detector`` (mitie.py:317-420)
- ``text_categorizer``                       (mitie.py:723-779)
- ``total_word_feature_extractor``           (mitie.py:844-905)

Model files are this repo's ``.npz`` artifacts (the reference's dlib binary
blobs require the non-vendored C library to read). Behavioral notes:
- ``extract_entities`` returns (range, tag, score) triples like the binding;
- ``extract_binary_relation`` follows the **C++ example semantics** (no
  ±5-token window crop): the golden relations file was produced by the C++
  path (SURVEY.md §2.3 M3 note), so that is the parity-relevant variant.
"""

from __future__ import annotations

import os

from mitie_spark.functions.tokenizer import tokenize, tokenize_with_offsets  # noqa: F401
from mitie_spark.models.train import ARTIFACT_DIR
from mitie_spark.sources.dlib_models import is_npz


def load_entire_file(filename: str) -> str:
    """mitie.py:200-207."""
    with open(filename, "rb") as f:
        return f.read().decode("utf-8", errors="replace")


class named_entity_extractor:
    """mitie.py:250-358 — extract_entities over token lists."""

    def __init__(
        self, filename: str | None = None, fe_filename: str | None = None, _model=None
    ):
        """``fe_filename`` (the separate word-feature-extractor blob of the
        reference's pure-model path, mitie.py:251-269) is used when
        ``filename`` is a dlib pure-model file; for this repo's .npz
        artifacts the feature space is code chained by fingerprint, so it
        is ignored."""
        from mitie_spark.models.ner_model import NerModel

        if _model is not None:
            self._model = _model
            return
        path = filename or os.path.join(ARTIFACT_DIR, "ner_model.npz")
        if is_npz(path):
            self._model = NerModel.load(path)
        else:
            # a reference user's dlib binary — either a full ner_model.dat
            # (named_entity_extractor.cpp:35-118) or a pure model plus the
            # separate extractor blob in fe_filename (:36-83)
            from mitie_spark.sources.dlib_models import ner_model_from_dlib

            self._model = ner_model_from_dlib(path, fe_path=fe_filename)

    def get_possible_ner_tags(self) -> list[str]:
        return list(self._model.tags)

    def save_to_disk(self, filename: str, pure_model: bool = False) -> None:
        """mitie.py:282-297. A dlib-backed model (loaded from a reference
        .dat) writes a real dlib binary back — full
        (mitie_save_named_entity_extractor, mitie.cpp:1051-1078) or pure
        (mitie_save_named_entity_extractor_pure_model, :1080-1100) — so the
        reference C library can consume it. .npz-backed models save .npz
        (their word-feature space is code + fingerprint, not a bundled
        blob, so every .npz artifact is already a 'pure model')."""
        if getattr(self._model.fs, "kind", "") == "dlib":
            from mitie_spark.sources.dlib_models import (
                ner_model_to_dlib,
                write_named_entity_extractor,
                write_ner_pure_model,
            )

            ner = ner_model_to_dlib(self._model)
            if pure_model:
                ner["tfe_fingerprint"] = ner["fe"]["fingerprint"]
                write_ner_pure_model(filename, ner)
            else:
                write_named_entity_extractor(filename, ner)
            return
        self._model.save(filename)

    def extract_entities(self, tokens: list[str], feature_extractor=None):
        """→ [(range, tag, score)] with range = python range object, exactly
        like the binding (mitie.py:299-315). ``feature_extractor`` is the
        binding's pure-model word-feature source; here the feature space is
        code chained by fingerprint, so a mismatched extractor is rejected
        and a matching one is a no-op."""
        if feature_extractor is not None and isinstance(
            feature_extractor, total_word_feature_extractor
        ):
            fs = self._model.fs
            kind = getattr(fs, "kind", "")
            if kind == "dlib":
                expected = fs.fingerprint
            elif kind == "wordvec":
                # the feature source IS the WordVectors (ner_model.py:784)
                expected = fs.fingerprint
            else:
                # 'wordvec+shape' wraps the vectors; 'hashed' has none and
                # the guard is a no-op (no extractor was involved)
                wv = getattr(fs, "wv", None)
                expected = None if wv is None else wv.fingerprint
            if expected is not None and feature_extractor.fingerprint != expected:
                raise ValueError(
                    "feature_extractor fingerprint does not match the one "
                    "this model was trained with (reference guard: "
                    "named_entity_extractor.h:223-245)"
                )
        return [
            (range(s, e), tag, score)
            for s, e, tag, score in self._model.extract_entities(list(tokens))
        ]

    def extract_binary_relation(self, tokens, arg1_range, arg2_range,
                                window_crop: int | None = None):
        """→ a ``binary_relation`` carrying the extracted pair FEATURES.

        ``window_crop=None`` (default) is the C++ example semantics: the
        full token sequence feeds feature extraction (the golden relations
        file came from that path — SURVEY.md §2.3 M3). ``window_crop=5``
        reproduces the reference PYTHON BINDING, which crops the sentence
        to the pair span ±5 tokens before extraction
        (mitie.py:156-169,317-346 _get_windowed_range). The crop is
        SEMANTICALLY NEUTRAL — every relation feature window lies inside
        the kept ±5 tokens (win=2/win2=5 n-grams, between-range, arg
        means), pinned bit-exact against the compiled reference in
        tests/test_cross_engine.py — so it is purely a feature-extraction
        cost saver; at scale the cropped form is the right default for
        long documents. Like the
        reference, feature extraction happens on the NER extractor — which
        owns the word-feature source — and the detector only scores the
        pre-extracted vector (mitie.h:360-375; the .svm detector file does
        not embed an extractor).

        A dlib-backed NER emits the REFERENCE feature space (the exact
        sparse sample of binary_relation_detector.cpp:110-189) so that real
        ``rel_classifier_*.svm`` files score it; an .npz-backed NER emits
        this engine's native space for its own trained detectors."""
        toks = list(tokens)
        a1 = (arg1_range.start, arg1_range.stop)
        a2 = (arg2_range.start, arg2_range.stop)
        if window_crop is not None:
            # mitie.py:156-169: begin = pair start minus winsize floored at
            # 0, end = pair stop plus winsize capped at len(tokens)
            begin = min(a1[0], a2[0])
            end = max(a1[1], a2[1])
            begin = begin - window_crop if begin > window_crop else 0
            end = min(end + window_crop, len(toks))
            toks = toks[begin:end]
            a1 = (a1[0] - begin, a1[1] - begin)
            a2 = (a2[0] - begin, a2[1] - begin)
        if getattr(self._model.fs, "kind", "") == "dlib":
            from mitie_spark.models.relation_ref import reference_relation_pairs

            pairs = reference_relation_pairs(toks, self._model.X(toks), a1, a2)
            return binary_relation(
                pairs, self._model.fs.fingerprint, space="reference"
            )
        from mitie_spark.models.relation_model import relation_features

        row = relation_features(toks, self._model.X(toks), a1, a2)
        return binary_relation(row, self._model.fs.fingerprint, space="native")


class binary_relation:
    """Opaque extracted-features container (mitie.py:361-372 analog; the
    reference's mitie_binary_relation is likewise the extracted sparse
    vector plus the extractor fingerprint). ``space`` records which feature
    space the vector lives in — "reference" (dlib artifacts) or "native"
    (this engine's trained detectors) — so a detector from the other family
    rejects it instead of mis-scoring."""

    def __init__(self, features, fingerprint: int, space: str = "native"):
        self.features = features
        self.fingerprint = fingerprint
        self.space = space


class binary_relation_detector:
    """mitie.py:374-420 — score > 0 ⇒ relation holds."""

    def __init__(
        self,
        filename: str | None = None,
        name: str | None = None,
        _model=None,
        _ref_det=None,
        _fingerprint: int | None = None,
    ):
        from mitie_spark.models.relation_model import RelationModel

        self._det = None  # set when backed by a reference .svm file or a
        # reference-space model trained in-engine on a dlib-backed NER
        if _ref_det is not None:
            self._det = _ref_det
            self._model = None
            self.name = name
            self._fingerprint = _fingerprint
            return
        if _model is not None:
            self._model = _model
        else:
            path = filename or os.path.join(ARTIFACT_DIR, "relation_model.npz")
            if is_npz(path):
                self._model = RelationModel.load(path)
            else:
                # a reference user's rel_classifier_*.svm
                # (binary_relation_detector.h:80-104): keep the collapsed
                # linear weights and score pair lists directly
                from mitie_spark.sources.dlib_models import (
                    read_binary_relation_detector,
                    relation_weights_from_detector,
                )

                det = read_binary_relation_detector(path)
                self._det = relation_weights_from_detector(det)
                self._model = None
                self.name = name or det["relation_type"]
                self._fingerprint = det["fingerprint"]
                return
        self.name = name or self._model.preds[0]
        self._idx = self._model.preds.index(self.name)
        self._fingerprint = self._model.fingerprint

    @property
    def name_string(self) -> str:
        """mitie.py:408-409."""
        return self.name

    def save_to_disk(self, filename: str) -> None:
        if self._det is not None:
            # collapsed weights export as a one-basis-vector linear
            # decision function — a REAL .svm the reference (and this
            # engine's reader) loads
            import numpy as np

            from mitie_spark.sources.dlib_models import (
                write_binary_relation_detector,
            )

            w, b = self._det
            nz = np.nonzero(w)[0]
            write_binary_relation_detector(
                filename,
                {
                    "relation_type": self.name,
                    "fingerprint": self._fingerprint,
                    "alpha": [1.0],
                    "b": float(b),
                    "basis_vectors": [[(int(i), float(w[i])) for i in nz]],
                },
            )
            return
        self._model.save(filename)

    def __str__(self) -> str:
        # mitie.py:399-401
        return "binary_relation_detector: " + self.name_string

    def __repr__(self) -> str:
        # mitie.py:403-405
        return "<binary_relation_detector: " + self.name_string + ">"

    def __call__(self, relation: binary_relation) -> float:
        if relation.fingerprint != self._fingerprint:
            raise ValueError(
                "relation was extracted with a different word-feature "
                "source than this detector was trained on (reference "
                "guard: binary_relation_detector.h:70-77)"
            )
        if self._det is not None:
            if relation.space != "reference":
                raise ValueError(
                    "a reference .svm detector scores reference-space "
                    "features (extract them on a dlib-backed NER)"
                )
            from mitie_spark.models.relation_ref import score_pairs

            return score_pairs(self._det[0], self._det[1], relation.features)
        if relation.space != "native":
            raise ValueError(
                "this engine's trained detector scores native-space "
                "features (extract them on an .npz-backed NER)"
            )
        s = self._model._score_rows([relation.features])[0]
        return float(s[self._idx])


class text_categorizer:
    """mitie.py:723-779 — __call__(tokens) -> (label, score)."""

    def __init__(
        self, filename: str | None = None, fe_filename: str | None = None, _model=None
    ):
        """``fe_filename`` (pure-model word-feature blob, mitie.py:724-736)
        is used when ``filename`` is a dlib pure-model file; for .npz
        artifacts the feature space is code chained by fingerprint, so it
        is ignored."""
        from mitie_spark.models.text_categorizer import TextCategorizer

        if _model is not None:
            self._model = _model
            return
        path = filename or os.path.join(ARTIFACT_DIR, "text_categorizer.npz")
        if is_npz(path):
            self._model = TextCategorizer.load(path)
        else:
            # a reference user's dlib binary — full text_categorizer model
            # or a pure model + separate extractor (text_categorizer.cpp:
            # 10-113)
            from mitie_spark.sources.dlib_models import (
                text_categorizer_from_dlib,
            )

            self._model = text_categorizer_from_dlib(
                path, fe_path=fe_filename
            )

    def save_to_disk(self, filename: str, pure_model: bool = False) -> None:
        """A dlib-backed categorizer writes a real dlib binary back — full
        (mitie_save_text_categorizer, mitie.cpp:1146-1173) or pure
        (:1175-1195); .npz-backed models save .npz."""
        if getattr(self._model, "kind", "") == "dlib":
            from mitie_spark.sources.dlib_models import (
                write_text_categorizer,
                write_text_categorizer_pure_model,
            )

            cat = self._model.to_dict()
            if pure_model:
                write_text_categorizer_pure_model(filename, cat)
            else:
                write_text_categorizer(filename, cat)
            return
        self._model.save(filename)

    def __call__(self, tokens: list[str], feature_extractor=None):
        # mitie.py:761-779; the optional extractor is the binding's
        # pure-model word-feature source. A dlib-backed categorizer loaded
        # WITHOUT an extractor can take one per-call, with the reference's
        # fingerprint guard (text_categorizer.cpp:173-180).
        model = self._model
        if feature_extractor is not None and getattr(model, "kind", "") == "dlib":
            from mitie_spark.sources.dlib_models import (
                DlibTextCategorizer,
                DlibTotalWordFeatureExtractor,
            )

            wv = feature_extractor._wv
            if not isinstance(wv, DlibTotalWordFeatureExtractor):
                raise ValueError(
                    "a dlib categorizer needs a dlib word-feature source"
                )
            if (
                model.tfe_fingerprint
                and wv.fingerprint != model.tfe_fingerprint
            ):
                raise ValueError(
                    "Fingerprint mismatch (text_categorizer.cpp:173-180)"
                )
            if model.fs is None:
                # upgrading a pure model rebuilds the word-feature index
                # and re-fingerprints the weight matrix — seconds for a
                # real 300MB extractor. Cache the upgraded model so the
                # reference's per-document call loop pays it once.
                cached = getattr(self, "_upgraded", None)
                if cached is not None and cached[0] == wv.fingerprint:
                    model = cached[1]
                else:
                    model = DlibTextCategorizer(
                        model.tags,
                        {
                            "weights": model.W,
                            "b": model.bvec,
                            "labels": model.labels,
                        },
                        wv.to_dict(),
                        model.tfe_fingerprint or None,
                    )
                    self._upgraded = (wv.fingerprint, model)
        return model(list(tokens))


class total_word_feature_extractor:
    """mitie.py:844-905 — per-word feature vectors + fingerprint."""

    def __init__(self, filename: str):
        if is_npz(filename):
            from mitie_spark.models.word_vectors import WordVectors

            self._wv = WordVectors.load(filename)
        else:
            # a reference user's dlib binary (total_word_feature_extractor
            # .dat, total_word_feature_extractor.h:169-189)
            from mitie_spark.sources.dlib_models import (
                DlibTotalWordFeatureExtractor,
                read_total_word_feature_extractor,
            )

            self._wv = DlibTotalWordFeatureExtractor(
                read_total_word_feature_extractor(filename)
            )

    @property
    def num_dimensions(self) -> int:
        return self._wv.dims

    @property
    def fingerprint(self) -> int:
        # The chained content fingerprint every dependent model verifies
        # (total_word_feature_extractor.h fingerprint member).
        return self._wv.fingerprint

    def get_feature_vector(self, word: str):
        # the reference folds digits BEFORE the dictionary probe
        # (convert_numbers, total_word_feature_extractor.h:107-137), and
        # our trainers build vocabularies from folded tokens — an unfolded
        # probe ('1984' instead of '####') always misses. Folding is
        # idempotent, so sources that fold internally are unaffected.
        from mitie_spark.functions.tokenizer import fold_digits

        word = fold_digits(word)
        fn = getattr(self._wv, "get_feature_vector", None)
        return fn(word) if fn is not None else self._wv.token_features(word)

    @property
    def num_words_in_dictionary(self) -> int:
        # mitie.py:870-871
        return len(self._wv.words)

    def get_words_in_dictionary(self) -> list[str]:
        return list(self._wv.words)


# ---------------------------------------------------------------------------
# Trainer surface (mitie.py:466-721,782-827) — reference call shapes over
# this repo's ports of the reference solvers (models/svm_train, oca, dcd).
# `num_threads` is accepted for drop-in compatibility (Spark-level
# parallelism replaces the reference's thread pool).
# ---------------------------------------------------------------------------


class ner_training_instance:
    """mitie.py:466-503 — one sentence plus its labeled entity ranges."""

    def __init__(self, tokens: list[str]):
        self.tokens = [str(t) for t in tokens]
        self.entities: list[tuple[int, int, str]] = []

    @property
    def num_tokens(self) -> int:
        return len(self.tokens)

    @property
    def num_entities(self) -> int:
        return len(self.entities)

    def overlaps_any_entity(self, r: range) -> bool:
        span = set(r)
        return any(span & set(range(s, e)) for s, e, _ in self.entities)

    def add_entity(self, r: range, label: str) -> None:
        if not len(r) or r.start < 0 or r.stop > len(self.tokens):
            raise ValueError("entity range out of bounds")
        if self.overlaps_any_entity(r):
            raise ValueError("entity overlaps an existing entity")
        self.entities.append((r.start, r.stop, str(label)))


class ner_trainer:
    """mitie.py:505-585 — collect instances, train() → named_entity_extractor.

    The reference signature takes the total_word_feature_extractor filename;
    here the word-feature space is code (fingerprint-chained), so the
    argument is accepted and ignored."""

    def __init__(self, filename: str | None = None):
        self._instances: list[ner_training_instance] = []
        # the reference solver's hyperparameter surface, with the
        # reference's meanings and defaults: the structured-SVM segmenter
        # (models/svm_train.train_segmenter_svm, ner_trainer.cpp:498-572)
        # takes C, eps (relative objective change per epoch), the epoch cap
        # max_iterations and loss_per_missed_segment; the OCA chunk
        # classifier (train_chunk_classifier_svm, :360-405) takes
        # classifier_C; beta is the F-beta of its CV C search. num_threads
        # is accepted for drop-in compatibility (Spark-level parallelism
        # replaces the reference's thread pool).
        self.beta = 0.5
        self.num_threads = 4
        self.C = 20.0
        self.eps = 0.01
        self.max_iterations = 2000
        self.loss_per_missed_segment = 3.0
        self.classifier_C = 300.0
        # auto_tune mirrors ner_trainer.cpp's BOBYQA/CV parameter search
        # (segmenter (C, loss) + classifier C); off by default — the
        # reference always runs it, but it multiplies training cost by the
        # CV-eval budget, so it is opt-in here.
        self.auto_tune = False

    @property
    def size(self) -> int:
        return len(self._instances)

    def add(self, instance: ner_training_instance) -> None:
        self._instances.append(instance)

    def train(self) -> named_entity_extractor:
        import random

        from mitie_spark.models.ner_model import NerModel
        from mitie_spark.models.svm_train import (
            train_chunk_classifier_svm,
            train_segmenter_svm,
            tune_segmenter_params,
        )

        if not self._instances:
            raise ValueError("ner_trainer.train() with no training instances")
        # tag vocabulary in first-seen order (ner_trainer.cpp:576-593)
        tags: list[str] = []
        for inst in self._instances:
            for _, _, label in inst.entities:
                if label not in tags:
                    tags.append(label)
        tag_id = {t: i for i, t in enumerate(tags)}
        not_entity = len(tags)

        rng = random.Random(1234)
        seg_sents, cls_examples = [], []
        for inst in self._instances:
            chunks = [(s, e) for s, e, _ in inst.entities]
            seg_sents.append((inst.tokens, chunks))
            occupied = set()
            for s, e in chunks:
                occupied.update(range(s, e))
            for s, e, label in inst.entities:
                cls_examples.append((inst.tokens, s, e, tag_id[label]))
            # negative segments: random non-overlapping spans (Part II of the
            # reference trains on segmenter false positives; random spans are
            # the model-free analog)
            for _ in range(3):
                if len(inst.tokens) < 2:
                    break
                s = rng.randrange(0, len(inst.tokens) - 1)
                e = min(s + rng.randint(1, 2), len(inst.tokens))
                if not (set(range(s, e)) & occupied):
                    cls_examples.append((inst.tokens, s, e, not_entity))
        seg_C = self.C
        seg_loss = self.loss_per_missed_segment
        if self.auto_tune and len(seg_sents) > 1:
            seg_C, seg_loss, _ = tune_segmenter_params(seg_sents)
        W_seg, T_seg = train_segmenter_svm(
            seg_sents,
            C=seg_C,
            eps=self.eps,
            max_iterations=int(self.max_iterations),
            loss_per_missed_segment=seg_loss,
        )
        # OCA multiclass SVM; with auto_tune, train_chunk_classifier_svm
        # runs the reference's 2-fold-CV F-beta C search (ner_trainer.cpp:
        # 361-405 via models/oca.py)
        Ws, Wd, b = train_chunk_classifier_svm(
            cls_examples,
            n_classes=not_entity + 1,
            C=self.classifier_C,
            beta=self.beta,
            num_labels=len(tags),
            auto_tune=self.auto_tune,
        )
        model = NerModel(W_seg, T_seg, Ws, Wd, b, tags)
        return named_entity_extractor(_model=model)


class binary_relation_detector_trainer:
    """mitie.py:587-721 — positive/negative pairs, train() → detector."""

    def __init__(self, relation_name: str, ner: named_entity_extractor):
        self.relation_name = str(relation_name)
        self._ner = ner
        self._pos: list[tuple[list[str], tuple[int, int], tuple[int, int]]] = []
        self._neg: list[tuple[list[str], tuple[int, int], tuple[int, int]]] = []
        self.beta = 0.1
        self.num_threads = 4
        # The reference trainer's per-class SVM C — a scalar or a
        # (C_pos, C_neg) pair handed to the ported DCD solver verbatim
        # (models/dcd.py); None uses the reference's default/tuned flow.
        self.C: float | tuple[float, float] | None = None
        # auto_tune runs the reference's exact BOBYQA 6-fold-CV F-beta C
        # search (binary_relation_detector_trainer.cpp:176-238; the
        # reference ALWAYS runs it — opt-in here because it multiplies
        # training cost by the eval × fold budget). Skipped — like the
        # reference — when there are ≤ 6 positives.
        self.auto_tune = False

    @property
    def num_positive_examples(self) -> int:
        return len(self._pos)

    @property
    def num_negative_examples(self) -> int:
        return len(self._neg)

    def add_positive_binary_relation(self, tokens, arg1: range, arg2: range):
        self._pos.append(
            (list(tokens), (arg1.start, arg1.stop), (arg2.start, arg2.stop))
        )

    def add_negative_binary_relation(self, tokens, arg1: range, arg2: range):
        self._neg.append(
            (list(tokens), (arg1.start, arg1.stop), (arg2.start, arg2.stop))
        )

    def train(self) -> binary_relation_detector:
        from mitie_spark.models.relation_model import train_relation_model

        if not self._pos:
            raise ValueError("no positive examples")
        fs = self._ner._model.fs  # the reference trainer extracts
        # features through the NER's word-feature extractor
        C = self.C
        if C is not None and not isinstance(C, (tuple, list)):
            C = (C, C)
        if getattr(fs, "kind", "") == "dlib":
            # a dlib-backed NER extracts REFERENCE-space features
            # (extract_binary_relation emits them for real .svm files), so
            # the detector is trained in that space with the EXACT ported
            # reference stack (models/dcd.brdt_train: default-seeded
            # shuffle → optional log-space BOBYQA over threaded-6-fold-CV
            # F-beta → rescale → dlib DCD solve) — the trained decision
            # function is bit-identical to the compiled reference's,
            # verified end-to-end in tests/test_cross_engine.py for both
            # the tuned and untuned paths.
            from mitie_spark.models.dcd import brdt_train
            from mitie_spark.models.relation_ref import (
                reference_relation_pairs,
            )

            ner = self._ner._model
            samples, labels = [], []
            for toks, a1, a2 in self._pos:
                samples.append(
                    reference_relation_pairs(toks, ner.X(toks), a1, a2)
                )
                labels.append(1.0)
            for toks, a1, a2 in self._neg:
                samples.append(
                    reference_relation_pairs(toks, ner.X(toks), a1, a2)
                )
                labels.append(-1.0)
            w, b, _ = brdt_train(
                samples,
                labels,
                num_pos=len(self._pos),
                beta=self.beta,
                auto_tune=self.auto_tune,
                C_override=C,
            )
            return binary_relation_detector(
                _ref_det=(w, b),
                name=self.relation_name,
                _fingerprint=fs.fingerprint,
            )
        examples = [
            (toks, a1, a2, self.relation_name) for toks, a1, a2 in self._pos
        ] + [(toks, a1, a2, None) for toks, a1, a2 in self._neg]
        model = train_relation_model(
            [self.relation_name],
            examples,
            fs=fs,
            C=C,
            auto_tune=self.auto_tune,
            beta=self.beta,
        )
        return binary_relation_detector(_model=model, name=self.relation_name)


class text_categorizer_trainer:
    """mitie.py:782-827 — labeled token lists, train() → text_categorizer.

    ``solver = "svm"`` runs the reference's exact OCA flow
    (text_categorizer_trainer.cpp:120-280 via models/oca.py): combined
    BoW(+mean word vector) features, randomize_samples, the optional
    find_max_single_variable C search (auto_tune — the reference always
    runs it; opt-in here because it multiplies training cost by the CV
    budget), final train at C=300/eps=1e-4.  The word-feature extractor
    comes from ``filename`` (a dlib .dat or our .npz); None trains
    BoW-only, like a default-constructed extractor.  The default
    "perceptron" solver keeps the fast native analog."""

    def __init__(self, filename: str | None = None):
        self._data: list[tuple[list[str], str]] = []
        self.beta = 0.5
        self.num_threads = 4
        self.solver = "perceptron"
        self.auto_tune = False
        self._filename = filename

    @property
    def size(self) -> int:
        return len(self._data)

    def add_labeled_text(self, tokens: list[str], label: str) -> None:
        self._data.append((list(tokens), str(label)))

    def train(self) -> text_categorizer:
        if not self._data:
            raise ValueError("no labeled examples")
        if self.solver == "svm":
            from mitie_spark.models.text_categorizer import (
                train_text_categorizer_svm,
            )

            fs = (
                total_word_feature_extractor(self._filename)._wv
                if self._filename
                else None
            )
            model = train_text_categorizer_svm(
                self._data, fs=fs, beta=self.beta, auto_tune=self.auto_tune
            )
            return text_categorizer(_model=model)
        from mitie_spark.models.text_categorizer import train_text_categorizer

        return text_categorizer(_model=train_text_categorizer(self._data))
