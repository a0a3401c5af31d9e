"""Cross-engine differential against the REAL compiled reference.

Builds the reference C++ library (mitielib/makefile — g++/make only, no
cmake) into the gitignored ``.refbuild/`` tree, then drives it through the
reference's own ctypes binding (``mitielib/mitie.py``) and asserts both
directions of interoperability:

- our dlib codec WRITES a ``total_word_feature_extractor.dat`` the C++
  trainer consumes (sources/dlib_models.py:485 vs
  total_word_feature_extractor.h:179-189);
- the C++-trained ``ner_model.dat`` / ``rel_classifier_*.svm`` load through
  our reader and score (spans/tags EXACTLY equal; NER chunk scores within a
  few double-ulps — feature extraction is bit-exact, the final float64 dot
  differs only in summation order; relation scores BIT-IDENTICAL);
- models re-written by our writer load back into the C++ and reproduce its
  own outputs exactly (mitie.cpp:1051-1100);
- tokenize matches byte-for-byte on adversarial unicode
  (conll_tokenizer.h vs functions/tokenizer.py).

Skipped when the toolchain or the read-only reference tree is unavailable.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
REFBUILD = REPO / ".refbuild"
REF = Path("/root/reference")
XENG = REFBUILD / "xeng_test"
# bump to invalidate the cached C++-trained artifacts after changing the
# training spec below
SPEC_VERSION = "v1"

pytestmark = pytest.mark.skipif(
    not REF.exists() or shutil.which("g++") is None or shutil.which("make") is None,
    reason="reference tree or C++ toolchain unavailable",
)


# ---------------------------------------------------------------------------
# fixtures: build libmitie.so once, import the reference binding, train tiny
# models with the REFERENCE'S OWN trainers (cached across pytest runs)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def libmitie() -> Path:
    so = REFBUILD / "mitielib" / "libmitie.so"
    if so.exists():
        return so
    REFBUILD.mkdir(exist_ok=True)
    for d in ("mitielib", "dlib"):
        if not (REFBUILD / d).exists():
            shutil.copytree(REF / d, REFBUILD / d)
    r = subprocess.run(
        ["make", "-j8"], cwd=REFBUILD / "mitielib", capture_output=True, timeout=900
    )
    if r.returncode != 0 or not so.exists():
        pytest.skip(f"libmitie.so build failed: {r.stderr[-500:]!r}")
    return so


@pytest.fixture(scope="module")
def cpp(libmitie):
    """The reference's own ctypes binding, loaded against our build."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ref_mitie", str(REFBUILD / "mitielib" / "mitie.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


PEOPLE = ["Alice", "Bob", "Carol", "Dave", "Erin", "Frank"]
ORGS = ["Acme", "Globex", "Initech", "Umbrella"]
COMMON = "the a of visited joined at works in said and to for . , met with left".split()

REL_POS = [
    (["Alice", "works", "at", "Acme", "."], range(0, 1), range(3, 4)),
    (["Bob", "works", "at", "Globex", "."], range(0, 1), range(3, 4)),
    (["Carol", "joined", "Initech", "last", "year", "."], range(0, 1), range(2, 3)),
    (["Dave", "works", "at", "Umbrella", "."], range(0, 1), range(3, 4)),
]
REL_NEG = [
    (["Alice", "visited", "Acme", "."], range(0, 1), range(2, 3)),
    (["Bob", "met", "Carol", "at", "Globex", "."], range(0, 1), range(2, 3)),
    (["Erin", "left", "Initech", "."], range(0, 1), range(2, 3)),
]

TEST_SENTS = [
    ["Erin", "visited", "Umbrella", "at", "the", "office", "."],
    ["the", "Frank", "joined", "Acme", "and", "left", "."],
    ["Bob", "met", "Carol", "at", "Globex", "."],
    ["nothing", "to", "see", "here", "."],
    # OOV words, digits (convert_numbers fold), all-caps, hyphens
    ["XJQZW", "knows", "Acme-Corp", "since", "1984", "said", "MR.", "Frank", "."],
    # non-ASCII: chunk features hash RAW UTF-8 BYTES (signed-char prefix/
    # suffix, byte-level tolower in the stemmer) — caught a real parity bug
    ["naïve", "Müller", "visited", "ÉCOLE", "at", "café-bar", "日本語", "."],
    ["Ärger", "über", "die", "STRAßE", "met", "żółć", "SEÑOR", "."],
]


def _make_twfe(path: str) -> None:
    from mitie_spark.functions.morphology import ApproximateSubstringSet, _CRC
    from mitie_spark.sources.dlib_models import write_total_word_feature_extractor

    rng = np.random.default_rng(42)
    words = PEOPLE + ORGS + COMMON
    sset = ApproximateSubstringSet()
    for s in ["*Al", "ce*", "Bo", "*Ac", "ex*", "Ini", "th", "ed*", "isi", "rk"]:
        sset.add_substring(s)
    non_morph, morph_dim = 8, 4
    fe = {
        "fingerprint": 987654321,
        "non_morph_feats": non_morph,
        "words": words,
        "vectors": (
            rng.standard_normal((len(words), non_morph + morph_dim)) * 0.5
        ).astype(np.float32),
        "morph": {
            "substrings": {
                "mask": 0x1FFF,
                "mask_bits": 13,
                "init_hash": 0xFFFFFFFF,
                "max_substr_len": sset.max_substr_len,
                "hash_table": sset.hash_table,
                "crc_table": _CRC,
            },
            "morph_trans": (
                rng.standard_normal((0x1FFF + 1, morph_dim)) * 0.1
            ).astype(np.float32),
        },
    }
    write_total_word_feature_extractor(path, fe)


@pytest.fixture(scope="module")
def artifacts(cpp):
    """twfe.dat written by OUR codec + models trained by the C++ trainers.

    Cached under .refbuild/xeng_test — the C++ NER train is ~20s. The cache
    key is SPEC_VERSION; bump it when the training spec changes.
    """
    marker = XENG / f"spec.{SPEC_VERSION}"
    paths = {
        "twfe": str(XENG / "twfe.dat"),
        "ner": str(XENG / "ner_model.dat"),
        "ner_pure": str(XENG / "ner_pure.dat"),
        "svm": str(XENG / "rel_classifier_people.person.employer.svm"),
        "cat": str(XENG / "text_categorizer.dat"),
    }
    if marker.exists() and all(os.path.exists(p) for p in paths.values()):
        return paths
    if XENG.exists():
        shutil.rmtree(XENG)
    XENG.mkdir(parents=True)

    # our writer produces the extractor blob the C++ trainer consumes
    _make_twfe(paths["twfe"])

    trainer = cpp.ner_trainer(paths["twfe"])
    for i in range(40):
        p, o = PEOPLE[i % len(PEOPLE)], ORGS[i % len(ORGS)]
        if i % 3 == 0:
            toks = ["the", p, "joined", o, "and", "left", "."]
            ents = [(range(1, 2), "person"), (range(3, 4), "org")]
        else:
            toks = [p, "visited", o, "at", "the", "office", "."]
            ents = [(range(0, 1), "person"), (range(2, 3), "org")]
        inst = cpp.ner_training_instance(toks)
        for r, lab in ents:
            inst.add_entity(r, lab)
        trainer.add(inst)
    trainer.num_threads = 4
    ner = trainer.train()
    ner.save_to_disk(paths["ner"])
    ner.save_to_disk(paths["ner_pure"], pure_model=True)

    rt = cpp.binary_relation_detector_trainer("people.person.employer", ner)
    for toks, a1, a2 in REL_POS:
        rt.add_positive_binary_relation(toks, a1, a2)
    for toks, a1, a2 in REL_NEG:
        rt.add_negative_binary_relation(toks, a1, a2)
    rt.num_threads = 4
    det = rt.train()
    det.save_to_disk(paths["svm"])

    ct = cpp.text_categorizer_trainer(paths["twfe"])
    for i in range(30):
        p, o = PEOPLE[i % len(PEOPLE)], ORGS[i % len(ORGS)]
        ct.add_labeled_text([p, "works", "at", o, "."], "employment")
        ct.add_labeled_text(["the", "price", "of", o, "fell", "."], "finance")
    ct.num_threads = 4
    cat = ct.train()
    cat.save_to_disk(paths["cat"])

    marker.touch()
    return paths


# a couple of double-ulps: token features / chunk features / relation
# features are bit-exact (verified while building this suite — see
# _norm_block/dlib_f32_mean docstrings); the final float64 dot differs
# only in summation order
SCORE_RTOL = 1e-12


def _cpp_ents(ner, toks):
    return [(e[0].start, e[0].stop, e[1], e[2]) for e in ner.extract_entities(toks)]


# ---------------------------------------------------------------------------
# direction: C++-trained artifacts -> our reader
# ---------------------------------------------------------------------------


def test_cpp_trained_ner_loads_and_matches(cpp, artifacts):
    from mitie_spark import api

    cpp_ner = cpp.named_entity_extractor(artifacts["ner"])
    my_ner = api.named_entity_extractor(artifacts["ner"])
    assert my_ner.get_possible_ner_tags() == cpp_ner.get_possible_ner_tags()
    for toks in TEST_SENTS:
        ref = _cpp_ents(cpp_ner, toks)
        got = [(r.start, r.stop, t, s) for r, t, s in my_ner.extract_entities(toks)]
        assert [g[:3] for g in got] == [r[:3] for r in ref], toks
        for g, r in zip(got, ref):
            assert g[3] == pytest.approx(r[3], rel=SCORE_RTOL), toks


def test_cpp_pure_model_loads_both_engines(cpp, artifacts):
    from mitie_spark import api

    cpp_full = cpp.named_entity_extractor(artifacts["ner"])
    cpp_pure = cpp.named_entity_extractor(artifacts["ner_pure"], artifacts["twfe"].encode())  # binding py3 quirk: fe path must be bytes
    my_pure = api.named_entity_extractor(artifacts["ner_pure"], artifacts["twfe"])
    for toks in TEST_SENTS:
        ref = _cpp_ents(cpp_full, toks)
        assert _cpp_ents(cpp_pure, toks) == ref
        got = [(r.start, r.stop, t, s) for r, t, s in my_pure.extract_entities(toks)]
        assert [g[:3] for g in got] == [r[:3] for r in ref]
        for g, r in zip(got, ref):
            assert g[3] == pytest.approx(r[3], rel=SCORE_RTOL)


def test_cpp_trained_relation_detector_bit_exact(cpp, artifacts):
    """The binding crops ±5 tokens (mitie.py:156-169); window_crop=5
    reproduces it and the collapsed-weights dot comes out bit-identical."""
    from mitie_spark import api

    cpp_ner = cpp.named_entity_extractor(artifacts["ner"])
    cpp_det = cpp.binary_relation_detector(artifacts["svm"])
    my_ner = api.named_entity_extractor(artifacts["ner"])
    my_det = api.binary_relation_detector(artifacts["svm"])
    assert my_det.name_string == cpp_det.name_string

    pairs = REL_POS + REL_NEG + [
        (["Frank", "works", "at", "Initech", "in", "the", "city", "."],
         range(0, 1), range(3, 4)),
        (["the", "old", "Erin", "quietly", "joined", "Umbrella", "."],
         range(2, 3), range(5, 6)),
        # non-ASCII args/context: relation n-grams hash raw UTF-8 bytes
        (["Müller", "works", "at", "Straßenbahn-AG", "in", "München", "."],
         range(0, 1), range(3, 4)),
    ]
    for toks, a1, a2 in pairs:
        ref = cpp_det(cpp_ner.extract_binary_relation(toks, a1, a2))
        got = my_det(my_ner.extract_binary_relation(toks, a1, a2, window_crop=5))
        assert got == ref, (toks, got, ref)


def test_window_crop_is_semantically_neutral(cpp, artifacts):
    """The binding's ±5 crop (mitie.py:156-169) is a PERFORMANCE device,
    not a semantic one: every relation feature window (win=2 n-grams,
    win2=5 n-grams, the between-range, the arg means —
    binary_relation_detector.cpp:148-186) lies inside the kept ±5 tokens,
    so cropped and uncropped features are identical by construction. Pin
    that equivalence on a long sentence: both our paths match the C++
    bit-exactly AND each other."""
    from mitie_spark import api

    cpp_ner = cpp.named_entity_extractor(artifacts["ner"])
    cpp_det = cpp.binary_relation_detector(artifacts["svm"])
    my_ner = api.named_entity_extractor(artifacts["ner"])
    my_det = api.binary_relation_detector(artifacts["svm"])

    toks = (
        "long ago in a galaxy far away".split()
        + ["Alice", "works", "at", "Acme"]
        + "which makes dynamite and other fine products every day .".split()
    )
    a1 = range(7, 8)
    a2 = range(10, 11)
    ref = cpp_det(cpp_ner.extract_binary_relation(toks, a1, a2))
    cropped = my_det(my_ner.extract_binary_relation(toks, a1, a2, window_crop=5))
    uncropped = my_det(my_ner.extract_binary_relation(toks, a1, a2))
    assert cropped == ref
    assert uncropped == cropped


def test_cpp_trained_text_categorizer_matches(cpp, artifacts):
    from mitie_spark import api

    cpp_cat = cpp.text_categorizer(artifacts["cat"])
    my_cat = api.text_categorizer(artifacts["cat"])
    for toks in [
        ["Erin", "works", "at", "Globex", "."],
        ["the", "price", "of", "Umbrella", "fell", "."],
        ["completely", "unrelated", "words", "here"],
    ]:
        ref_label, ref_score = cpp_cat(toks)
        got_label, got_score = my_cat(toks)
        assert got_label == ref_label
        assert got_score == pytest.approx(ref_score, rel=SCORE_RTOL)


# ---------------------------------------------------------------------------
# direction: our writer -> the C++ reader
# ---------------------------------------------------------------------------


def test_our_rewritten_ner_dat_loads_in_cpp(cpp, artifacts, tmp_path):
    from mitie_spark import api

    my_ner = api.named_entity_extractor(artifacts["ner"])
    back = str(tmp_path / "ner_back.dat")
    my_ner.save_to_disk(back)
    cpp_orig = cpp.named_entity_extractor(artifacts["ner"])
    cpp_back = cpp.named_entity_extractor(back)
    for toks in TEST_SENTS:
        assert _cpp_ents(cpp_back, toks) == _cpp_ents(cpp_orig, toks)


def test_our_rewritten_pure_model_loads_in_cpp(cpp, artifacts, tmp_path):
    from mitie_spark import api

    my_ner = api.named_entity_extractor(artifacts["ner"])
    back = str(tmp_path / "ner_back_pure.dat")
    my_ner.save_to_disk(back, pure_model=True)
    cpp_orig = cpp.named_entity_extractor(artifacts["ner"])
    cpp_back = cpp.named_entity_extractor(back, artifacts["twfe"].encode())
    for toks in TEST_SENTS:
        assert _cpp_ents(cpp_back, toks) == _cpp_ents(cpp_orig, toks)


def test_our_trained_svm_scores_identically_in_cpp(cpp, artifacts, tmp_path):
    """Detector trained by OUR trainer (reference feature space) exports a
    real one-basis-vector .svm; the C++ must score it identically to us on
    identical features (binding crop on both sides)."""
    from mitie_spark import api

    my_ner = api.named_entity_extractor(artifacts["ner"])
    tr = api.binary_relation_detector_trainer("people.person.employer", my_ner)
    for toks, a1, a2 in REL_POS:
        tr.add_positive_binary_relation(toks, a1, a2)
    for toks, a1, a2 in REL_NEG:
        tr.add_negative_binary_relation(toks, a1, a2)
    mine = tr.train()
    p = str(tmp_path / "rel_ours.svm")
    mine.save_to_disk(p)

    cpp_ner = cpp.named_entity_extractor(artifacts["ner"])
    cpp_det = cpp.binary_relation_detector(p)
    for toks, a1, a2 in REL_POS + REL_NEG:
        ref = cpp_det(cpp_ner.extract_binary_relation(toks, a1, a2))
        got = mine(my_ner.extract_binary_relation(toks, a1, a2, window_crop=5))
        assert got == pytest.approx(ref, rel=1e-9)


def test_our_rewritten_categorizer_loads_in_cpp(cpp, artifacts, tmp_path):
    from mitie_spark import api

    my_cat = api.text_categorizer(artifacts["cat"])
    back = str(tmp_path / "cat_back.dat")
    my_cat.save_to_disk(back)
    cpp_orig = cpp.text_categorizer(artifacts["cat"])
    cpp_back = cpp.text_categorizer(back)
    for toks in [["Erin", "works", "at", "Globex", "."], ["price", "fell"]]:
        assert cpp_back(toks) == cpp_orig(toks)


# ---------------------------------------------------------------------------
# tokenizer differential
# ---------------------------------------------------------------------------

ADVERSARIAL_TEXTS = [
    "Hello, world!  This is MR. O'Brien's 2nd-rate co-op.",
    "naïve café — “smart quotes” and an em—dash…",
    "日本語のテキスト mixed with English and 数字123 etc.",
    "tabs\tand\r\nCRLF\nnewlines nbsp",
    "emoji 👩‍👩‍👧‍👦 zwj sequences ￠￡ halfwidth marks",
    "a.b.c.d e.g. i.e. U.S.A. 3.14159 1,000,000 $5.00",
    "x<y>z a&b 'quoted' \"double\" (paren) [brack] {brace}",
    "Ψηφιακή ανάλυση — данные и ещё текст؟ عربى",
    "",
    "    ",
    "word",
]


def test_tokenize_differential(cpp):
    from mitie_spark.functions.tokenizer import iter_tokens_bytes, tokenize_with_offsets

    for text in ADVERSARIAL_TEXTS:
        ref = cpp.tokenize(text)  # list of bytes
        got = [t for t, _ in iter_tokens_bytes(text.encode("utf-8"))]
        assert got == ref, text
        ref_off = cpp.tokenize_with_offsets(text)
        got_off = [
            (t.encode("utf-8"), o) for t, o in tokenize_with_offsets(text)
        ]
        # our tokens decoded utf-8 then re-encoded: compare via raw bytes
        raw = list(iter_tokens_bytes(text.encode("utf-8")))
        assert [(t, o) for t, o in raw] == [(t, o) for t, o in ref_off], text


def test_tokenize_fuzz_differential(cpp):
    """Property fuzz: random byte soup (NUL-free — the C API takes a
    NUL-terminated char*) must tokenize byte-identically to the compiled
    reference, tokens AND offsets."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from mitie_spark.functions.tokenizer import iter_tokens_bytes

    # mix printable ASCII, punctuation-heavy text, and arbitrary unicode
    text_strategy = st.one_of(
        st.text(
            alphabet=st.sampled_from(list("aA.'() \t\n\r\"[]|,:?!-0129Uu")),
            max_size=60,
        ),
        st.text(max_size=40),
        st.binary(max_size=40).map(lambda b: b.decode("utf-8", "replace")),
    )

    @given(text_strategy)
    @settings(
        max_examples=300,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(text):
        text = text.replace("\x00", " ")
        data = text.encode("utf-8")
        got = list(iter_tokens_bytes(data))
        ref = cpp.tokenize_with_offsets(text)
        assert [(t, o) for t, o in got] == [(t, o) for t, o in ref], text

    check()


# ---------------------------------------------------------------------------
# CoNLL eval harness differential
# ---------------------------------------------------------------------------

CONLL_FILE = str(REPO / "data" / "conll" / "eval.conll")


@pytest.fixture(scope="module")
def conll_eval_artifacts(cpp, artifacts):
    """A C++-trained NER with CoNLL tag names (PERSON/ORGANIZATION/
    LOCATION) + the compiled probe wrapping the reference's own
    evaluate_named_entity_recognizer (ner_trainer.cpp:614-688)."""
    import math  # noqa: F401

    ner_path = XENG / "ner_conll.dat"
    probe = REFBUILD / "probe_eval"
    if not ner_path.exists():
        from mitie_spark.sources.conll import parse_conll_sentences

        sents = parse_conll_sentences(open(CONLL_FILE).read())
        trainer = cpp.ner_trainer(artifacts["twfe"])
        # train on 2 of every 3 sentences; the held-out third gives the
        # eval non-trivial FP/FN counts
        for i, (toks, chunks) in enumerate(sents):
            if i % 3 == 2 or not chunks:
                continue
            inst = cpp.ner_training_instance(toks)
            ok = True
            for s, e, lab in chunks:
                try:
                    inst.add_entity(range(s, e), lab)
                except Exception:
                    ok = False
            if ok:
                trainer.add(inst)
        trainer.num_threads = 4
        ner = trainer.train()
        ner.save_to_disk(str(ner_path))
    if not probe.exists():
        r = subprocess.run(
            ["g++", "-O3", "-Imitielib/include", "-Idlib",
             str(REPO / "tests" / "cross_engine" / "probe_eval.cpp"),
             "mitielib/libmitie.a", "-lpthread", "-o", str(probe)],
            cwd=REFBUILD, capture_output=True, timeout=600,
        )
        if r.returncode != 0:
            pytest.skip(f"probe_eval build failed: {r.stderr[-400:]!r}")
    return str(ner_path), str(probe)


def test_conll_eval_matches_reference_exactly(conll_eval_artifacts):
    """Our CoNLL eval harness (models/conll_eval) must reproduce the
    reference's evaluate_named_entity_recognizer EXACTLY — same per-label
    and overall precision/recall doubles (the counts are integers, the
    ratios divide identically). The reference prints nan for a 0-dets
    label; our harness encodes that as 0.0 (documented SQL-friendly
    choice) — normalized before comparison."""
    import math

    from mitie_spark.models.conll_eval import evaluate_ner
    from mitie_spark.sources.conll import parse_conll_sentences
    from mitie_spark.sources.dlib_models import ner_model_from_dlib

    ner_path, probe = conll_eval_artifacts
    out = subprocess.run(
        [probe, ner_path, CONLL_FILE], capture_output=True, text=True
    ).stdout
    ref: dict[str, tuple[float, float]] = {}
    n_sent = None
    for line in out.strip().splitlines():
        parts = line.split()
        if parts[0] == "sentences":
            n_sent = int(parts[1])
        elif parts[0] in ("LABEL", "OVERALL"):
            lab = parts[1] if parts[0] == "LABEL" else "OVERALL"
            p, r = float(parts[-2]), float(parts[-1])
            ref[lab] = (0.0 if math.isnan(p) else p, 0.0 if math.isnan(r) else r)
    assert n_sent and len(ref) >= 3

    model = ner_model_from_dlib(ner_path)
    sents = parse_conll_sentences(open(CONLL_FILE).read())
    assert len(sents) == n_sent  # both parsers found the same sentences
    rows = evaluate_ner(
        model, [t for t, _ in sents], [c for _, c in sents]
    )
    got = {r["label"]: (r["precision"], r["recall"]) for r in rows}

    # the reference reports every model tag; ours reports labels with any
    # counts plus OVERALL — compare the intersection plus OVERALL, and the
    # eval must be non-trivial (some but not all detections correct)
    assert got["OVERALL"] == ref["OVERALL"]
    for lab, (p, r) in ref.items():
        if lab == "OVERALL":
            continue
        gp, gr = got.get(lab, (0.0, 0.0))
        assert (gp, gr) == (p, r), lab
    assert 0.0 < got["OVERALL"][1] <= 1.0


# ---------------------------------------------------------------------------
# BOBYQA / find_max_single_variable — the reference's hyperparameter
# optimizers (ner_trainer.cpp:552, binary_relation_detector_trainer.cpp:217,
# ner_trainer.cpp:387, text_categorizer_trainer.cpp:260) vs the Python port
# (mitie_spark/models/bobyqa.py).  The probes dump every objective
# evaluation as C99 hex doubles; the tests replay each case through the
# port with operation-order-identical twin objectives and require the FULL
# iterate trajectory — every queried point, every objective value, the
# final iterate, and the failure behavior — to match bit-for-bit.
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1


def _splitmix64(z):
    z = (z + 0x9E3779B97F4A7C15) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)


def _unit(tag):
    return float(_splitmix64(tag) >> 40) * 2.0 ** -24


def _mk_noise(seed):
    import math as m

    def f(v):
        h = seed
        for x in v:
            q = m.floor(x * 4096.0)
            h = _splitmix64(h ^ (int(q) & _MASK64))
        f_ = (v[0] - 0.3) * (v[0] - 0.3) + (v[1] + 0.2) * (v[1] + 0.2)
        f_ = f_ + float(h >> 40) * 2.0 ** -30
        return f_

    return f


def _quad(v):
    return ((v[0] - 1.7) * (v[0] - 1.7) + 2.3 * (v[1] + 0.4) * (v[1] + 0.4)
            + 0.5 * v[0] * v[1])


def _rosen(v):
    return (100.0 * (v[1] - v[0] * v[0]) * (v[1] - v[0] * v[0])
            + (1.0 - v[0]) * (1.0 - v[0]))


def _nerlike(v):
    return -((v[0] - 37.0) * (v[0] - 37.0) / 500.0
             + (v[1] - 55.0) * (v[1] - 55.0) / 800.0)


def _step2(v):
    import math as m
    return m.floor(v[0] / 10.0) * 0.125 + m.floor(v[1] / 20.0) * 0.0625


def _bowl3(v):
    return ((v[0] - 0.9) * (v[0] - 0.9) + 1.7 * (v[1] + 1.1) * (v[1] + 1.1)
            + 0.3 * (v[2] - 2.2) * (v[2] - 2.2) + 0.25 * v[0] * v[2])


_BOBYQA_OBJS = {
    "quad": _quad, "rosen": _rosen, "ner_smooth": _nerlike,
    "ner_step": _step2, "ner_const": lambda v: 1.0, "rel_smooth": _nerlike,
    "noise1": _mk_noise(1), "noise2": _mk_noise(2), "noise3": _mk_noise(3),
    "active": _quad, "budget": _rosen, "bowl3_full": _bowl3,
    "bowl3_2n1": _bowl3,
}


def _sv_smooth(c):
    return -(c - 731.0) * (c - 731.0) / 1e6


_SV_OBJS = {
    "sv_const": lambda c: 1.0,
    "sv_smooth": _sv_smooth,
    "sv_step": lambda c: __import__("math").floor(c / 250.0) * 0.0625,
    "sv_tight": _sv_smooth,
}


def _build_probe(src_name, bin_name):
    probe = REFBUILD / bin_name
    src = REPO / "tests" / "cross_engine" / src_name
    if not probe.exists() or probe.stat().st_mtime < src.stat().st_mtime:
        r = subprocess.run(
            ["g++", "-O3", "-I", str(REFBUILD / "dlib"), str(src),
             "-o", str(probe)],
            capture_output=True, text=True, timeout=600,
        )
        if r.returncode != 0:
            pytest.skip(f"{bin_name} build failed: {r.stderr[-400:]!r}")
    return probe


@pytest.fixture(scope="module")
def bobyqa_probe_out(libmitie):
    probe = _build_probe("probe_bobyqa.cpp", "probe_bobyqa")
    r = subprocess.run([str(probe)], capture_output=True, text=True,
                       timeout=120)
    assert r.returncode == 0
    cases = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        tag, name = parts[0], parts[1]
        c = cases.setdefault(
            name, {"evals": [], "result": None, "failed": False})
        if tag == "C":
            c["n"], c["npt"] = int(parts[2]), int(parts[3])
            c["rhobeg"] = float.fromhex(parts[4])
            c["rhoend"] = float.fromhex(parts[5])
            c["maxfun"], c["mode"] = int(parts[6]), parts[7]
        elif tag == "B":
            vals = [float.fromhex(p) for p in parts[2:]]
            n = c["n"]
            c["x0"], c["lo"], c["hi"] = vals[:n], vals[n:2 * n], vals[2 * n:]
        elif tag == "E":
            c["evals"].append(([float.fromhex(p) for p in parts[3:-1]],
                               float.fromhex(parts[-1])))
        elif tag == "R":
            c["result"] = ([float.fromhex(p) for p in parts[2:-1]],
                           float.fromhex(parts[-1]))
        elif tag == "X":
            c["failed"] = True
    assert len(cases) == 17
    return cases


def test_bobyqa_trajectory_bit_exact(bobyqa_probe_out):
    """Every BOBYQA case: the Python port queries the reference's exact
    point sequence and returns its exact final iterate (hex-double
    equality, no tolerance)."""
    from mitie_spark.models.bobyqa import (
        BobyqaFailure,
        find_max_bobyqa,
        find_min_bobyqa,
    )

    ran = 0
    for name, c in bobyqa_probe_out.items():
        if c["mode"] == "sv":
            continue
        mine = []
        obj = _BOBYQA_OBJS[name]

        def logged(v, _o=obj, _m=mine):
            f = _o(v)
            _m.append((list(v), f))
            return f

        runner = find_max_bobyqa if c["mode"] == "max" else find_min_bobyqa
        failed, result = False, None
        try:
            x, fv = runner(logged, c["x0"], c["npt"], c["lo"], c["hi"],
                           c["rhobeg"], c["rhoend"], c["maxfun"])
            result = (x, fv)
        except BobyqaFailure:
            failed = True
        assert failed == c["failed"], name
        assert mine == c["evals"], name  # full trajectory, bit-for-bit
        if not failed:
            assert result[0] == c["result"][0], name
            assert result[1] == c["result"][1], name
        ran += 1
    assert ran == 13


def test_single_variable_trajectory_bit_exact(bobyqa_probe_out):
    """find_max_single_variable (the classifier-C search): same
    bit-for-bit trajectory contract."""
    from mitie_spark.models.bobyqa import (
        OptimizeSingleVariableFailure,
        find_max_single_variable,
    )

    ran = 0
    for name, c in bobyqa_probe_out.items():
        if c["mode"] != "sv":
            continue
        mine = []
        obj = _SV_OBJS[name]

        def logged(v, _o=obj, _m=mine):
            f = _o(v)
            _m.append(([v], f))
            return f

        failed, result = False, None
        try:
            x, fv = find_max_single_variable(
                logged, c["x0"][0], c["lo"][0], c["hi"][0], c["rhoend"],
                c["maxfun"], c["rhobeg"])
            result = ([x], fv)
        except OptimizeSingleVariableFailure:
            failed = True
        assert failed == c["failed"], name
        assert mine == c["evals"], name
        if not failed:
            assert result[0] == c["result"][0], name
            assert result[1] == c["result"][1], name
        ran += 1
    assert ran == 4


def test_bobyqa_rescue_bit_exact(libmitie):
    """RESCUE (optimization_bobyqa.h:2020-2633) driven directly on two
    crafted model states (reinstatement-only and forced re-evaluation):
    every output array the reference mutates — xbase, xpt, fval, gopt,
    hq, pq, bmat, zmat, sl, su — plus nf/kopt and the objective
    evaluation stream must match bit-for-bit."""
    from mitie_spark.models.bobyqa import _rescue

    probe = _build_probe("probe_bobyqa_rescue.cpp", "probe_bobyqa_rescue")
    r = subprocess.run([str(probe)], capture_output=True, text=True,
                       timeout=120)
    assert r.returncode == 0
    cases = {}
    for line in r.stdout.splitlines():
        p = line.split()
        if p[0] == "E":
            cases.setdefault(p[1], {}).setdefault("evals", []).append(
                ([float.fromhex(v) for v in p[3:-1]],
                 float.fromhex(p[-1])))
        elif p[0] == "A":
            cases.setdefault(p[1], {}).setdefault("arrays", {})[p[2]] = [
                float.fromhex(v) for v in p[3:]]
        elif p[0] == "S":
            cases.setdefault(p[1], {})["nf_kopt"] = (int(p[2]), int(p[3]))
    assert set(cases) == {"rescue1", "rescue2"}

    for variant in (1, 2):
        name = f"rescue{variant}"
        n, npt = 2, 5
        ndim, nptm, kopt = npt + n, npt - n - 1, 3
        xl = [0.0] + [-10.0] * n
        xu = [0.0] + [10.0] * n
        xbase = [0.0] + [_unit(100 + j) - 0.5 for j in range(n)]
        xopt = [0.0] + [(_unit(200 + j) - 0.5) * 0.5 for j in range(n)]
        gopt = [0.0] + [(_unit(300 + j) - 0.5) * 4.0 for j in range(n)]
        sl = [0.0] + [xl[j + 1] - xbase[j + 1] for j in range(n)]
        su = [0.0] + [xu[j + 1] - xbase[j + 1] for j in range(n)]
        fval = [0.0] + [_unit(400 + k) * 10.0 for k in range(npt)]
        pq = [0.0] + [(_unit(500 + k) - 0.5) * 2.0 for k in range(npt)]
        xpt = [[0.0] * (n + 1) for _ in range(npt + 1)]
        for k in range(npt):
            for j in range(n):
                xpt[k + 1][j + 1] = (_unit(600 + k * 7 + j) - 0.5) * 0.8
        fval[kopt] = -1.0
        for j in range(1, n + 1):
            xpt[kopt][j] = xopt[j]
        if variant == 2:
            for k in range(1, npt + 1):
                if k != kopt:
                    for j in range(1, n + 1):
                        xpt[k][j] = xopt[j] + (0.0078125 if j == 1
                                               else -0.015625)
        hq = [0.0] + [(_unit(700 + i) - 0.5) * 1.5
                      for i in range(n * (n + 1) // 2)]
        bmat = [[0.0] * (n + 1) for _ in range(ndim + 1)]
        for i in range(ndim * n):
            bmat[i % ndim + 1][i // ndim + 1] = (_unit(800 + i) - 0.5) * 1.2
        zmat = [[0.0] * (nptm + 1) for _ in range(npt + 1)]
        for i in range(npt * nptm):
            zmat[i % npt + 1][i // npt + 1] = (_unit(900 + i) - 0.5) * 1.1
        vlag = [0.0] * (ndim + 1)

        evals = []

        def calfun(v, _m=evals):
            f = ((v[0] - 0.25) * (v[0] - 0.25)
                 + 3.0 * (v[1] + 0.75) * (v[1] + 0.75))
            _m.append((list(v), f))
            return f

        nf, kopt_out = _rescue(
            calfun, n, npt, xl, xu, 50, xbase, xpt, fval, xopt, gopt, hq,
            pq, bmat, zmat, ndim, sl, su, 9, 0.25, kopt, vlag)

        c = cases[name]
        assert (nf, kopt_out) == c["nf_kopt"], name
        assert evals == c.get("evals", []), name

        def flat(m, rows, cols):
            return [m[i % rows + 1][i // rows + 1]
                    for i in range(rows * cols)]

        got = {
            "xbase": xbase[1:], "xopt": xopt[1:], "gopt": gopt[1:],
            "sl": sl[1:], "su": su[1:], "fval": fval[1:], "pq": pq[1:],
            "hq": hq[1:], "xpt": flat(xpt, npt, n),
            "bmat": flat(bmat, ndim, n), "zmat": flat(zmat, npt, nptm),
        }
        for key, val in got.items():
            assert val == c["arrays"][key], f"{name}.{key}"


@pytest.fixture(scope="module")
def cpp_tuning_stream(cpp):
    """stdout of the C++ ner_trainer (which ALWAYS runs the BOBYQA
    segmenter search and the find_max_single_variable classifier search)
    on the tiny fixture — cached under xeng_test, keyed by SPEC_VERSION."""
    cache = XENG / f"tune_stdout.{SPEC_VERSION}.txt"
    if cache.exists():
        return cache.read_text()
    XENG.mkdir(parents=True, exist_ok=True)
    twfe = XENG / "twfe.dat"
    if not twfe.exists():
        _make_twfe(str(twfe))
    trainer = cpp.ner_trainer(str(twfe))
    for i in range(40):
        p, o = PEOPLE[i % len(PEOPLE)], ORGS[i % len(ORGS)]
        if i % 3 == 0:
            toks = ["the", p, "joined", o, "and", "left", "."]
            ents = [(range(1, 2), "person"), (range(3, 4), "org")]
        else:
            toks = [p, "visited", o, "at", "the", "office", "."]
            ents = [(range(0, 1), "person"), (range(2, 3), "org")]
        inst = cpp.ner_training_instance(toks)
        for rng_, lab in ents:
            inst.add_entity(rng_, lab)
        trainer.add(inst)
    trainer.num_threads = 4
    # the trainer writes its tuning trace to C-level stdout (fd 1)
    saved = os.dup(1)
    fd = os.open(str(cache) + ".tmp", os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(fd, 1)
    os.close(fd)
    try:
        trainer.train()
    finally:
        os.dup2(saved, 1)
        os.close(saved)
    (cache.parent / (cache.name + ".tmp")).rename(cache)
    return cache.read_text()


def test_auto_tune_reproduces_cpp_trainer_tuned_params(cpp_tuning_stream):
    """END-TO-END: our api.ner_trainer with auto_tune=True lands on the
    SAME tuned hyperparameters as the compiled reference trainer on the
    tiny fixture — segmenter (best C, best loss) AND classifier best C.

    Why this is a trajectory test and not a coincidence: on this fixture
    the C++ CV objective is constant (every probed point scores 1.0 —
    asserted below), so the optimizer's pure iterate geometry alone
    decides the winner.  Our CV objectives are also 1.0 at every point
    our (bit-identical) optimizers probe, so equality of the tuned
    values is exactly equality of Powell trajectories.  The classifier
    comparison is at cout's 6-significant-digit precision; the optimizer
    itself is verified bit-exact in test_bobyqa_trajectory_bit_exact."""
    import re

    from mitie_spark import api
    from mitie_spark.models import oca, svm_train

    # --- parse the reference's tuning trace ---
    seg_evals = re.findall(
        r"^C: (\S+)   loss: (\S+) \t(\S+)$", cpp_tuning_stream, re.M)
    cls_evals = re.findall(
        r"^C: (\S+)   f-score: (\S+)$", cpp_tuning_stream, re.M)
    bests = re.findall(r"^best C: (\S+)$", cpp_tuning_stream, re.M)
    best_loss = re.findall(r"^best loss: (\S+)$", cpp_tuning_stream, re.M)
    assert len(seg_evals) >= 5 and len(cls_evals) >= 5
    assert len(bests) == 2 and len(best_loss) == 1
    # the premise: constant-1.0 objective on this fixture, both searches
    assert all(s == "1" for _, _, s in seg_evals)
    assert all(s == "1" for _, s in cls_evals)
    ref_seg_C, ref_seg_loss = float(bests[0]), float(best_loss[0])
    ref_cls_C = bests[1]

    # --- run OUR auto-tune end-to-end, recording what train() receives ---
    seen = {}
    orig_seg, orig_cls = svm_train.tune_segmenter_params, oca.tune_multiclass_C

    def rec_seg(*a, **k):
        out = orig_seg(*a, **k)
        seen["seg"] = out
        return out

    def rec_cls(*a, **k):
        evals = k.setdefault("evals", [])
        out = orig_cls(*a, **k)
        seen["cls"] = (out, evals)
        return out

    svm_train.tune_segmenter_params = rec_seg
    oca.tune_multiclass_C = rec_cls
    try:
        trainer = api.ner_trainer()
        trainer.auto_tune = True
        for i in range(40):
            p, o = PEOPLE[i % len(PEOPLE)], ORGS[i % len(ORGS)]
            if i % 3 == 0:
                toks = ["the", p, "joined", o, "and", "left", "."]
                ents = [(range(1, 2), "person"), (range(3, 4), "org")]
            else:
                toks = [p, "visited", o, "at", "the", "office", "."]
                ents = [(range(0, 1), "person"), (range(2, 3), "org")]
            inst = api.ner_training_instance(toks)
            for rng_, lab in ents:
                inst.add_entity(rng_, lab)
            trainer.add(inst)
        ner = trainer.train()
    finally:
        svm_train.tune_segmenter_params = orig_seg
        oca.tune_multiclass_C = orig_cls

    my_seg_C, my_seg_loss, my_seg_rec = seen["seg"]
    my_cls_C, my_cls_evals = seen["cls"]
    # our CV objectives were also constant-1.0 (the trajectory premise)
    assert my_seg_rec == 1.0
    assert my_cls_evals and all(f == 1.0 for _, f in my_cls_evals)
    # tuned segmenter params: exact equality (both integers here)
    assert (my_seg_C, my_seg_loss) == (ref_seg_C, ref_seg_loss)
    # tuned classifier C: equality at cout's 6-sigfig print precision
    assert f"{my_cls_C:.6g}" == ref_cls_C
    # and the auto-tuned model still works
    toks = ["Erin", "visited", "Umbrella", "."]
    spans = [(r.start, r.stop, t) for r, t, _ in ner.extract_entities(toks)]
    assert (0, 1, "person") in spans and (2, 3, "org") in spans


# ---------------------------------------------------------------------------
# DCD trainer differential (mitie_spark/models/dcd.py) — the exact solver
# binary_relation_detector_trainer.cpp:155-232 drives.  probe_dcd.cpp pins
# the four layers separately (rand stream, randomize_samples permutation,
# the DCD solve, the threaded 6-fold CV); the end-to-end tests compare
# whole trained detectors against the reference's own trainer.
# ---------------------------------------------------------------------------


def _dcd_probe_dataset():
    """Mirror of probe_dcd.cpp's LCG-generated sparse dataset — keep the
    two in sync."""
    state = 42
    mask = (1 << 64) - 1

    def nxt():
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) & mask
        return state >> 33

    samples, labels = [], []
    for i in range(30):
        label = 1 if i % 2 == 0 else -1
        m = {(0 if label > 0 else 1): 1.0}
        for _ in range(7):
            idx = 2 + nxt() % 58
            val = ((nxt() % 9) + 1) * 0.25
            m[idx] = m.get(idx, 0.0) + val
        if i % 7 == 0:
            label = -label
        samples.append(sorted(m.items()))
        labels.append(float(label))
    return samples, labels


@pytest.fixture(scope="module")
def dcd_probe_out(libmitie):
    probe = _build_probe("probe_dcd.cpp", "probe_dcd")
    r = subprocess.run([str(probe)], capture_output=True, text=True,
                       timeout=120)
    assert r.returncode == 0
    out = {"D": {}}
    for line in r.stdout.splitlines():
        parts = line.split()
        if parts[0] == "R":
            out["R"] = [int(v) for v in parts[1:]]
        elif parts[0] == "P":
            out["P"] = [int(v) for v in parts[1:]]
        elif parts[0] == "D":
            b = float.fromhex(parts[2])
            sv = []
            for tok in parts[3:]:
                i, v = tok.split(":")
                sv.append((int(i), float.fromhex(v)))
            out["D"][int(parts[1])] = (b, sv)
        elif parts[0] == "C":
            out["C"] = (float.fromhex(parts[1]), float.fromhex(parts[2]))
    assert set(out) == {"R", "P", "D", "C"} and len(out["D"]) == 3
    return out


def test_dlib_rand_stream_bit_exact(dcd_probe_out):
    """DlibRand reproduces dlib::rand's post-prime uint32 stream."""
    from mitie_spark.models.dcd import DlibRand

    r = DlibRand()
    assert [r.get_random_32bit_number() for _ in range(12)] == dcd_probe_out["R"]


def test_randomize_samples_permutation_bit_exact(dcd_probe_out):
    """The end-first Fisher-Yates (svm.h:995-1032) lands the same
    permutation with the same default-seeded rand."""
    from mitie_spark.models.dcd import randomize_samples

    ids = list(range(30))
    dummy = [0] * 30
    randomize_samples(ids, dummy)
    assert ids == dcd_probe_out["P"]


def test_dcd_train_bit_exact(dcd_probe_out):
    """svm_c_linear_dcd_train returns the reference's exact decision
    function — w hex-double-for-hex-double, b included — across interior,
    clamped and asymmetric-C regimes (shuffle RNG + shrinking included)."""
    from mitie_spark.models.dcd import svm_c_linear_dcd_train

    samples, labels = _dcd_probe_dataset()
    for t, (c1, c2) in enumerate([(1.0, 1.0), (0.3, 2.0), (25.0, 0.05)]):
        w, b = svm_c_linear_dcd_train(samples, labels, c1, c2)
        ref_b, ref_sv = dcd_probe_out["D"][t]
        assert b == ref_b, t
        # the reference basis vector is dense-in-sparse (assign keeps
        # zeros): every index 0..dims-1 in order
        assert [i for i, _ in ref_sv] == list(range(len(w))), t
        assert w.tolist() == [v for _, v in ref_sv], t


def test_threaded_cv_bit_exact(dcd_probe_out):
    """cross_validate_trainer reproduces cross_validate_trainer_threaded's
    exact per-class accuracies (fold composition + fold-order sum)."""
    from mitie_spark.models.dcd import cross_validate_trainer

    samples, labels = _dcd_probe_dataset()
    got = cross_validate_trainer(samples, labels, 6, 0.8, 1.7)
    assert got == dcd_probe_out["C"]


def test_our_relation_trainer_matches_cpp_trained_artifact(cpp, artifacts):
    """END-TO-END (untuned path): api.binary_relation_detector_trainer on
    the artifacts fixture (4 positives <= 6 folds, so the reference skips
    the BOBYQA search and uses the rescaled default C) produces the SAME
    decision function the compiled reference trainer saved to .svm —
    train-here == train-there, bit-for-bit."""
    from mitie_spark import api
    from mitie_spark.sources.dlib_models import (
        read_binary_relation_detector,
        relation_weights_from_detector,
    )

    my_ner = api.named_entity_extractor(artifacts["ner"])
    tr = api.binary_relation_detector_trainer("people.person.employer", my_ner)
    for toks, a1, a2 in REL_POS:
        tr.add_positive_binary_relation(toks, a1, a2)
    for toks, a1, a2 in REL_NEG:
        tr.add_negative_binary_relation(toks, a1, a2)
    mine = tr.train()
    w_my, b_my = mine._det

    det = read_binary_relation_detector(artifacts["svm"])
    w_ref, b_ref = relation_weights_from_detector(det, n_dims=len(w_my))
    assert b_my == b_ref
    assert np.array_equal(w_my, w_ref)


TUNED_REL_POS = [
    (["Alice", "works", "at", "Acme", "w0", "."], range(0, 1), range(3, 4)),
    (["Bob", "works", "at", "Globex", "w1", "."], range(0, 1), range(3, 4)),
    (["Carol", "joined", "Initech", "w2", "."], range(0, 1), range(2, 3)),
    (["Dave", "works", "at", "Umbrella", "w3", "."], range(0, 1), range(3, 4)),
    (["Erin", "works", "at", "Acme", "w4", "."], range(0, 1), range(3, 4)),
    (["Frank", "joined", "Globex", "w5", "."], range(0, 1), range(2, 3)),
    (["Alice", "works", "at", "Initech", "w6", "."], range(0, 1), range(3, 4)),
    (["Bob", "joined", "Umbrella", "w7", "."], range(0, 1), range(2, 3)),
]
TUNED_REL_NEG = [
    (["Acme", "hired", "by", "Alice", "w8", "."], range(0, 1), range(3, 4)),
    (["Globex", "said", "Bob", "left", "w9", "."], range(0, 1), range(2, 3)),
    (["Carol", "met", "Dave", "at", "noon", "."], range(0, 1), range(2, 3)),
    (["Initech", "fell", "as", "Erin", "watched", "."], range(0, 1), range(3, 4)),
    (["Frank", "and", "Carol", "left", "w10", "."], range(0, 1), range(2, 3)),
    (["Umbrella", "near", "Dave", "w11", "."], range(0, 1), range(2, 3)),
    (["Erin", "saw", "Acme", "fall", "w12", "."], range(2, 3), range(0, 1)),
    (["Bob", "met", "Frank", "w13", "."], range(0, 1), range(2, 3)),
]


def test_relation_auto_tune_reproduces_cpp_tuned_detector(cpp, artifacts):
    """END-TO-END (tuned path): with 8 positives (> 6 folds) the reference
    trainer runs its full log-space BOBYQA search over the threaded
    6-fold-CV F-beta objective before the final train.  Our
    auto_tune=True reproduces the resulting decision function exactly —
    which transitively pins the tuned (C1, C2) too, since the final DCD
    solve is bit-deterministic in them.  The C++-trained detector is
    cached beside the other xeng artifacts, keyed by SPEC_VERSION."""
    from mitie_spark import api
    from mitie_spark.sources.dlib_models import (
        read_binary_relation_detector,
        relation_weights_from_detector,
    )

    svm_path = XENG / f"rel_tuned.{SPEC_VERSION}.svm"
    if not svm_path.exists():
        ner = cpp.named_entity_extractor(artifacts["ner"])
        rt = cpp.binary_relation_detector_trainer("people.person.tuned", ner)
        for toks, a1, a2 in TUNED_REL_POS:
            rt.add_positive_binary_relation(toks, a1, a2)
        for toks, a1, a2 in TUNED_REL_NEG:
            rt.add_negative_binary_relation(toks, a1, a2)
        rt.num_threads = 4
        det = rt.train()
        det.save_to_disk(str(svm_path))

    my_ner = api.named_entity_extractor(artifacts["ner"])
    tr = api.binary_relation_detector_trainer("people.person.tuned", my_ner)
    for toks, a1, a2 in TUNED_REL_POS:
        tr.add_positive_binary_relation(toks, a1, a2)
    for toks, a1, a2 in TUNED_REL_NEG:
        tr.add_negative_binary_relation(toks, a1, a2)
    tr.auto_tune = True
    mine = tr.train()
    w_my, b_my = mine._det

    det = read_binary_relation_detector(str(svm_path))
    w_ref, b_ref = relation_weights_from_detector(det, n_dims=len(w_my))
    assert b_my == b_ref
    assert np.array_equal(w_my, w_ref)


# ---------------------------------------------------------------------------
# OCA multiclass SVM port (mitie_spark/models/oca.py) — the solver stack
# MITIE's NER segment classifier and text categorizer train with
# (ner_trainer.cpp:281-405, text_categorizer_trainer.cpp:144-270).
# probe_multiclass.cpp runs dlib's OWN oca/solve_qp_using_smo/
# structural_svm_problem::get_risk/cross_validate_multiclass_trainer/
# find_max_single_variable over the deterministic (non-threaded) problem
# shape and dumps hex doubles; see the probe header for why the threaded
# trainer itself is not a bit-stable target.
# ---------------------------------------------------------------------------


def _multiclass_probe_dataset():
    """Mirror of probe_multiclass.cpp's LCG-generated 3-class dataset —
    keep the two in sync."""
    state = 42
    mask = (1 << 64) - 1

    def nxt():
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) & mask
        return state >> 33

    samples, labels = [], []
    for i in range(24):
        lab = i % 3
        m = {lab: 2.0}
        for _ in range(5):
            idx = 3 + nxt() % 37
            val = ((nxt() % 9) + 1) * 0.25
            m[idx] = m.get(idx, 0.0) + val
        samples.append(sorted(m.items()))
        labels.append(lab)
    return samples, labels


@pytest.fixture(scope="module")
def multiclass_probe_out(libmitie):
    probe = _build_probe("probe_multiclass.cpp", "probe_multiclass")
    r = subprocess.run([str(probe)], capture_output=True, text=True,
                       timeout=300)
    assert r.returncode == 0
    out = {"W": {}, "O": {}, "V": np.zeros((3, 3)), "E": [], "T": None}
    for line in r.stdout.splitlines():
        p = line.split()
        if p[0] == "W":
            out["W"][int(p[1])] = np.array([float.fromhex(v) for v in p[2:]])
        elif p[0] == "O":
            out["O"][int(p[1])] = float.fromhex(p[2])
        elif p[0] == "V":
            out["V"][int(p[1]), int(p[2])] = float(p[3])
        elif p[0] == "E":
            out["E"].append((float.fromhex(p[1]), float.fromhex(p[2])))
        elif p[0] == "T":
            out["T"] = float.fromhex(p[1])
    assert len(out["W"]) == 3 and out["T"] is not None and out["E"]
    return out


def test_oca_multiclass_train_bit_exact(multiclass_probe_out):
    """svm_multiclass_linear_train reproduces dlib's OCA weight vector and
    returned objective hex-double-for-hex-double across three (C, eps,
    max_iterations) regimes — the full cutting-plane trajectory (SMO
    subproblems, plane pruning, stopping rule) is pinned transitively."""
    from mitie_spark.models.oca import svm_multiclass_linear_train

    samples, labels = _multiclass_probe_dataset()
    cases = [(300.0, 0.0001, 2000), (1.0, 0.001, 10000), (25.0, 0.001, 2000)]
    for t, (C, eps, mi) in enumerate(cases):
        W, b, labs, obj = svm_multiclass_linear_train(
            samples, labels, C=C, eps=eps, max_iterations=mi
        )
        assert labs == [0, 1, 2]
        w_full = np.hstack([W, b[:, None]]).reshape(-1)
        assert np.array_equal(w_full, multiclass_probe_out["W"][t]), t
        assert obj == multiclass_probe_out["O"][t], t


def test_oca_multiclass_cv_bit_exact(multiclass_probe_out):
    """cross_validate_multiclass_trainer reproduces dlib's rotating
    per-class fold composition and confusion counts exactly."""
    from mitie_spark.models.oca import (
        cross_validate_multiclass_trainer,
        svm_multiclass_linear_train,
    )

    samples, labels = _multiclass_probe_dataset()

    def train_fn(x, y):
        w, b, labs, _ = svm_multiclass_linear_train(
            x, y, C=300.0, eps=0.001, max_iterations=2000
        )
        return w, b, labs

    cv = cross_validate_multiclass_trainer(train_fn, samples, labels, 2)
    assert np.array_equal(cv, multiclass_probe_out["V"])


def test_oca_tuning_trajectory_bit_exact(multiclass_probe_out):
    """tune_multiclass_C walks find_max_single_variable through the SAME
    (C, f-score) evaluation sequence as the compiled reference flow and
    lands the same tuned C — every objective value along the line search
    matches bitwise because the CV confusion counts are integers and the
    F-beta formula is computed in the reference's operation order."""
    from mitie_spark.models.oca import tune_multiclass_C

    samples, labels = _multiclass_probe_dataset()
    evals = []
    C = tune_multiclass_C(samples, labels, beta=0.5, num_labels=3,
                          evals=evals)
    assert evals == multiclass_probe_out["E"]
    assert C == multiclass_probe_out["T"]


def test_our_svm_text_categorizer_matches_cpp_trained_bit_exact(cpp, artifacts):
    """END-TO-END: text_categorizer_trainer(solver="svm", auto_tune) on the
    SAME 60 texts and twfe reproduces the compiled trainer's categorizer —
    weights, biases, labels and every score BIT-IDENTICAL to the .dat the
    C++ trainer wrote.

    Why bitwise equality holds even though the reference trainer is
    threaded: every PSI value here is float32-exact (BoW entries are
    multiples of 1.5, the mean-vector block is float32), and float64 sums
    of a few dozen such values are EXACT — no rounding — so the threaded
    wrapper's accumulation order (and its timing-dependent buffering
    branch) cannot change the subgradients, and the whole OCA trajectory
    is forced.  At real-corpus scale that argument weakens; the
    deterministic-shape parity is pinned separately by
    probe_multiclass.cpp."""
    from mitie_spark import api

    tr = api.text_categorizer_trainer(artifacts["twfe"])
    tr.solver = "svm"
    tr.auto_tune = True  # the reference trainer always tunes
    for i in range(30):
        p, o = PEOPLE[i % len(PEOPLE)], ORGS[i % len(ORGS)]
        tr.add_labeled_text([p, "works", "at", o, "."], "employment")
        tr.add_labeled_text(["the", "price", "of", o, "fell", "."], "finance")
    mine = tr.train()._model
    ref = api.text_categorizer(artifacts["cat"])._model

    assert mine.tags == ref.tags
    assert mine.labels == ref.labels
    assert mine.W.shape == ref.W.shape
    assert np.array_equal(mine.W, ref.W)
    assert np.array_equal(mine.bvec, ref.bvec)
