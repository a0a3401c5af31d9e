"""dlib binary model (de)serialization — load real MITIE ``.dat``/``.svm``
files into the engine's weight schema.

The reference's user base arrives with ``ner_model.dat`` /
``total_word_feature_extractor.dat`` / ``rel_classifier_*.svm`` artifacts
(fetched by ``/root/reference/makefile:13-17``). This module implements the
dlib serialization format from scratch so those files load without the C++
library:

- integer packing: [size byte | 0x80 if negative] + minimal little-endian
  magnitude bytes (/root/reference/dlib/dlib/serialize.h:170-400)
- bool: one ASCII byte '0'/'1' (serialize.h:126-127,730-755)
- float/double: float_details = packed int64 mantissa + packed int16
  exponent, value = mantissa·2^exponent, low zero bytes shifted into the
  exponent (serialize.h:470-610; float_details.h:120-160)
- std::string: packed u32 length + raw bytes (serialize.h:1041-1070)
- std::vector<T>/std::map<K,V>: packed u32 size + elements (serialize.h:794+)
- dlib::matrix<T>: packed signed -nr, -nc, then row-major elements
  (dlib/matrix/matrix.h:1700-1725)

Object graphs implemented (file:line per the reference):

- mitie::total_word_feature_extractor — version 2, fingerprint u64,
  non_morph_feats, map<string, matrix<float,0,1>>, morph_fe
  (total_word_feature_extractor.h:169-189)
- mitie::word_morphology_feature_extractor — version 1, substrings,
  morph_trans (word_morphology_feature_extractor.h: serialize)
- mitie::approximate_substring_set — version 1, mask/mask_bits/init_hash
  u32, max_substr_len, hash_table vector<u16>, crc_table vector<u32>
  (approximate_substring_set.h:165-189)
- mitie::named_entity_extractor — classname string, version 2, fingerprint,
  tag_name_strings, fe, sequence_segmenter (version 1, use_BIO bool,
  use_high_order bool, total feature count, labeler = ner_feature_extractor
  num_feats + weights matrix<double,0,1>), multiclass df (weights matrix,
  b vector, labels vector<ulong>) (named_entity_extractor.h:223-245;
  dlib/svm/sequence_segmenter.h:411-424; sequence_labeler.h:303-313;
  dlib/svm/function.h:835-853)
- mitie::binary_relation_detector — version 1, relation_type, fingerprint,
  decision_function<sparse_linear_kernel> (alpha, b, kernel (empty), basis
  vectors of sparse vectors) (binary_relation_detector.h:80-104;
  dlib/svm/function.h:82-98)

A symmetric writer exists so round-trips are testable without the C++
binaries (they are not vendored in the reference snapshot), and so our own
trained extractors can be exported for the reference to consume.

The segmenter weight vector decodes into this engine's (W_seg, T_seg)
layout via sequence_segmenter.h:208-253: 3 window blocks × 5 labels ×
num_feats dims, then 25 transition weights indexed prev·5+cur, then 5
per-label biases; dlib label ids (BEGIN=0, INSIDE=1, OUTSIDE=2, LAST=3,
UNIT=4 — sequence_segmenter.h:20-24) are remapped to this engine's
O,B,I,L,U = 0..4.
"""

from __future__ import annotations

import math

import numpy as np

FD_IS_INF = 32000
FD_IS_NINF = 32001
FD_IS_NAN = 32002

# dlib label ids (sequence_segmenter.h:20-24) → ner_model O,B,I,L,U ids
DLIB_BEGIN, DLIB_INSIDE, DLIB_OUTSIDE, DLIB_LAST, DLIB_UNIT = 0, 1, 2, 3, 4
DLIB_TO_OURS = {
    DLIB_OUTSIDE: 0,  # O
    DLIB_BEGIN: 1,  # B
    DLIB_INSIDE: 2,  # I
    DLIB_LAST: 3,  # L
    DLIB_UNIT: 4,  # U
}
# BIO configuration (use_BIO_model == true): 3 labels, same dlib ids
DLIB_TO_OURS_BIO = {
    DLIB_OUTSIDE: 0,  # O
    DLIB_BEGIN: 1,  # B
    DLIB_INSIDE: 2,  # I
}


def is_npz(path: str) -> bool:
    """True for this repo's .npz artifacts (zip archives, "PK" magic); the
    reference's dlib binaries serialize a length-prefixed class-name string
    or a packed version int first and can never start with "PK". The single
    format-dispatch rule — every loader that accepts both formats imports
    this."""
    with open(path, "rb") as f:
        return f.read(2) == b"PK"


class DlibReader:
    """Sequential reader over a dlib-serialized byte buffer."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._arr = None  # lazy uint8 view + skip table for bulk decode
        self._skips_np = None

    def _take(self, n: int) -> bytes:
        b = self.data[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError("dlib stream truncated")
        self.pos += n
        return b

    def u(self) -> int:
        """Packed unsigned integer (serialize.h:348-400)."""
        size = self._take(1)[0] & 0x8F
        if size > 8:
            raise ValueError(f"bad integer control byte {size}")
        return int.from_bytes(self._take(size), "little")

    def s(self) -> int:
        """Packed signed integer (serialize.h:230-296)."""
        ctrl = self._take(1)[0]
        neg = bool(ctrl & 0x80)
        size = ctrl & 0x0F
        if size > 8:
            raise ValueError(f"bad integer control byte {ctrl}")
        v = int.from_bytes(self._take(size), "little")
        return -v if neg else v

    def boolean(self) -> bool:
        c = self._take(1)
        if c not in (b"0", b"1"):
            raise ValueError(f"bad bool byte {c!r}")
        return c == b"1"

    def f(self) -> float:
        """float/double via float_details (serialize.h:470-610)."""
        mantissa = self.s()
        exponent = self.s()
        if exponent == FD_IS_INF:
            return math.inf
        if exponent == FD_IS_NINF:
            return -math.inf
        if exponent == FD_IS_NAN:
            return math.nan
        return math.ldexp(float(mantissa), exponent)

    def string(self) -> str:
        return self._take(self.u()).decode("utf-8")

    def vector_u(self, n: int | None = None) -> np.ndarray:
        n = self.u() if n is None else n
        return np.array([self.u() for _ in range(n)], dtype=np.uint64)

    def vector_f(self) -> np.ndarray:
        n = self.u()
        return np.array([self.f() for _ in range(n)], dtype=np.float64)

    def vector_str(self) -> list[str]:
        return [self.string() for _ in range(self.u())]

    def _packed_ints(self, count: int) -> np.ndarray:
        """Decode ``count`` consecutive packed signed integers in bulk:
        one tight position scan (the variable-length records force a
        sequential pass), then vectorized magnitude/sign assembly. ~20×
        the per-element path — real MITIE models carry 50M+ packed values
        (200k word vectors × 271 dims + 500k-wide classifier rows)."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        arr = self._arr
        if arr is None:
            arr = self._arr = np.frombuffer(self.data, dtype=np.uint8)
            # skip table: bytes to advance if a record starts at this byte
            # (uint8 — equality-compared only; scalar paths index the raw
            # bytes directly instead of materializing a Python list, which
            # would cost ~8 bytes per input byte on a 400MB model)
            self._skips_np = (arr & 0x0F) + 1
        data = self.data
        skips_np = self._skips_np
        positions = np.empty(count, dtype=np.int64)
        filled = 0
        p = self.pos
        end = len(self.data)
        window = 256  # adaptive speculation width (pairs)
        scalar_block = 8  # exponential backoff when speculation keeps missing
        try:
            while filled < count:
                k = count - filled
                if k < 16:
                    for _ in range(k):
                        positions[filled] = p
                        filled += 1
                        p += (data[p] & 0x0F) + 1
                    break
                # records come in (mantissa, exponent) pairs whose two size
                # classes are near-constant over long runs — speculate a
                # period-2 stride and verify the whole run vectorized
                s1 = (data[p] & 0x0F) + 1
                s2 = (data[p + s1] & 0x0F) + 1
                stride = s1 + s2
                npairs = min(k // 2, window)
                cand = p + stride * np.arange(npairs, dtype=np.int64)
                cand = cand[cand <= end - stride]
                run = 0
                if len(cand):
                    ok = (skips_np[cand] == s1) & (skips_np[cand + s1] == s2)
                    run = int(np.argmin(ok)) if not ok.all() else len(ok)
                if run >= 4:
                    pp = cand[:run]
                    positions[filled : filled + 2 * run : 2] = pp
                    positions[filled + 1 : filled + 2 * run + 1 : 2] = pp + s1
                    filled += 2 * run
                    p = int(pp[-1]) + stride
                    # track the observed run length (±2×) — oversizing the
                    # window wastes a full gather per speculation round
                    window = min(max(64, 2 * run), 1 << 14)
                    scalar_block = 8
                else:
                    # heterogeneous stretch: scalar-advance with exponential
                    # backoff so failed speculation rounds stay amortized
                    for _ in range(min(k, scalar_block)):
                        positions[filled] = p
                        filled += 1
                        p += (data[p] & 0x0F) + 1
                    scalar_block = min(scalar_block * 4, 1 << 13)
        except IndexError:
            raise ValueError("dlib stream truncated") from None
        if p > end:
            raise ValueError("dlib stream truncated")
        self.pos = p
        ctrl = arr[positions]
        size = (ctrl & 0x0F).astype(np.int64)
        if size.max() > 8:
            raise ValueError("bad integer control byte in bulk decode")
        vals = np.zeros(count, dtype=np.uint64)
        for j in range(int(size.max())):
            m = size > j
            vals[m] |= np.left_shift(
                arr[positions[m] + 1 + j].astype(np.uint64), np.uint64(8 * j)
            )
        out = vals.astype(np.int64)
        np.negative(out, where=(ctrl & 0x80) != 0, out=out)
        return out

    def float_block(self, count: int) -> np.ndarray:
        """``count`` float_details records (mantissa, exponent packed-int
        pairs) → float64 array, sentinel exponents mapped to ±inf/nan."""
        ints = self._packed_ints(2 * count)
        mant = ints[0::2].astype(np.float64)
        expo = ints[1::2]
        special = expo >= FD_IS_INF
        out = np.ldexp(mant, np.where(special, 0, expo).astype(np.int32))
        if special.any():
            out[expo == FD_IS_INF] = math.inf
            out[expo == FD_IS_NINF] = -math.inf
            out[expo == FD_IS_NAN] = math.nan
        return out

    def matrix(self, dtype=np.float64) -> np.ndarray:
        """dlib::matrix — packed -nr, -nc, row-major elements
        (matrix.h:1700-1725)."""
        nr = -self.s()
        nc = -self.s()
        if nr < 0 or nc < 0:
            raise ValueError("legacy matrix format not supported")
        return self.float_block(nr * nc).reshape(nr, nc).astype(dtype)

    def sparse_vector(self) -> list[tuple[int, float]]:
        """std::vector<std::pair<uint32,double>>."""
        return [(self.u(), self.f()) for _ in range(self.u())]


class DlibWriter:
    """Symmetric writer (byte-compatible with dlib::serialize)."""

    def __init__(self):
        self.parts: list[bytes] = []

    def getvalue(self) -> bytes:
        return b"".join(self.parts)

    def u(self, v: int) -> None:
        if v < 0:
            raise ValueError("unsigned")
        mag = v.to_bytes(max((v.bit_length() + 7) // 8, 1), "little")
        self.parts.append(bytes([len(mag)]) + mag)

    def s(self, v: int) -> None:
        neg = 0x80 if v < 0 else 0
        v = abs(v)
        mag = v.to_bytes(max((v.bit_length() + 7) // 8, 1), "little")
        self.parts.append(bytes([len(mag) | neg]) + mag)

    def boolean(self, v: bool) -> None:
        self.parts.append(b"1" if v else b"0")

    def f(self, v: float, digits: int = 53) -> None:
        """float_details encoding; digits=53 for double, 24 for float32
        sources (float_details.h:120-160)."""
        v = float(v)
        if math.isinf(v):
            self.s(0)
            self.s(FD_IS_INF if v > 0 else FD_IS_NINF)
            return
        if math.isnan(v):
            self.s(0)
            self.s(FD_IS_NAN)
            return
        m, e = math.frexp(v)
        mantissa = int(m * (1 << digits))
        exponent = e - digits
        for _ in range(8):
            if mantissa & 0xFF:
                break
            mantissa >>= 8
            exponent += 8
        self.s(mantissa)
        self.s(exponent)

    def string(self, v: str) -> None:
        b = v.encode("utf-8")
        self.u(len(b))
        self.parts.append(b)

    def vector_u(self, vs) -> None:
        self.u(len(vs))
        for v in vs:
            self.u(int(v))

    def vector_str(self, vs) -> None:
        self.u(len(vs))
        for v in vs:
            self.string(v)

    def float_block(self, values: np.ndarray, digits: int = 53) -> None:
        """Bulk float_details encode — vectorized mirror of ``f()`` (same
        byte-normalization loop semantics, including the zero case), one
        buffer append instead of per-element packing."""
        V = np.asarray(values, dtype=np.float64).reshape(-1)
        if V.size == 0:
            return
        finite = np.isfinite(V)
        if not finite.all():
            for v in V:  # rare: fall back per element for inf/nan mixes
                self.f(float(v), digits=digits)
            return
        m, e = np.frexp(V)
        # trunc-toward-zero like int(); exact anyway for ≤`digits`-bit sources
        mant = np.trunc(m * (1 << digits)).astype(np.int64)
        expo = (e - digits).astype(np.int64)
        # shift whole low zero bytes into the exponent (float_details.h)
        for _ in range(8):
            shiftable = (mant & 0xFF) == 0
            if not shiftable.any():
                break
            mant[shiftable] >>= 8
            expo[shiftable] += 8
        ints = np.empty(2 * V.size, dtype=np.int64)
        ints[0::2] = mant
        ints[1::2] = expo
        neg = ints < 0
        mag = np.abs(ints).astype(np.uint64)
        # minimal little-endian byte count (≥1)
        sizes = np.ones(len(ints), dtype=np.int64)
        rest = mag >> np.uint64(8)
        while rest.any():
            sizes += rest != 0
            rest >>= np.uint64(8)
        offs = np.zeros(len(ints), dtype=np.int64)
        np.cumsum(sizes[:-1] + 1, out=offs[1:])
        out = np.zeros(int(offs[-1] + sizes[-1] + 1), dtype=np.uint8)
        out[offs] = (sizes | np.where(neg, 0x80, 0)).astype(np.uint8)
        for j in range(int(sizes.max())):
            sel = sizes > j
            out[offs[sel] + 1 + j] = (
                (mag[sel] >> np.uint64(8 * j)) & np.uint64(0xFF)
            ).astype(np.uint8)
        self.parts.append(out.tobytes())

    def matrix(self, M: np.ndarray, digits: int = 53) -> None:
        M = np.atleast_2d(M)
        self.s(-M.shape[0])
        self.s(-M.shape[1])
        self.float_block(M.reshape(-1), digits=digits)

    def sparse_vector(self, pairs) -> None:
        self.u(len(pairs))
        for i, v in pairs:
            self.u(int(i))
            self.f(float(v))


# ---------------------------------------------------------------------------
# mitie object graphs
# ---------------------------------------------------------------------------


def _read_substring_set(r: DlibReader):
    version = self_version = r.s()
    if self_version != 1:
        raise ValueError(f"approximate_substring_set version {version}")
    mask = r.u()
    mask_bits = r.u()
    init_hash = r.u()
    max_substr_len = r.u()
    hash_table = r.vector_u().astype(np.uint16)
    crc_table = r.vector_u().astype(np.uint32)
    return {
        "mask": mask,
        "mask_bits": mask_bits,
        "init_hash": init_hash,
        "max_substr_len": max_substr_len,
        "hash_table": hash_table,
        "crc_table": crc_table,
    }


def _write_substring_set(w: DlibWriter, ss: dict) -> None:
    w.s(1)
    w.u(ss["mask"])
    w.u(ss["mask_bits"])
    w.u(ss["init_hash"])
    w.u(ss["max_substr_len"])
    w.vector_u(ss["hash_table"])
    w.vector_u(ss["crc_table"])


def _read_morph_fe(r: DlibReader):
    version = r.s()
    if version != 1:
        raise ValueError(f"word_morphology_feature_extractor version {version}")
    substrings = _read_substring_set(r)
    morph_trans = r.matrix(np.float32)
    return {"substrings": substrings, "morph_trans": morph_trans}


def _write_morph_fe(w: DlibWriter, m: dict) -> None:
    w.s(1)
    _write_substring_set(w, m["substrings"])
    w.matrix(m["morph_trans"], digits=24)


def _read_twfe_body(r: DlibReader):
    version = r.s()
    if version != 2:
        raise ValueError(f"total_word_feature_extractor version {version}")
    fingerprint = r.u()
    non_morph_feats = r.u()
    n = r.u()
    words = []
    vecs = []
    for _ in range(n):
        words.append(r.string())
        vecs.append(r.matrix(np.float32).reshape(-1))
    morph = _read_morph_fe(r)
    V = (
        np.stack(vecs)
        if vecs
        else np.zeros((0, non_morph_feats + morph["morph_trans"].shape[1]), np.float32)
    )
    return {
        "fingerprint": fingerprint,
        "non_morph_feats": non_morph_feats,
        "words": words,
        "vectors": V,
        "morph": morph,
    }


def _write_twfe_body(w: DlibWriter, fe: dict) -> None:
    w.s(2)
    w.u(fe["fingerprint"])
    w.u(fe["non_morph_feats"])
    order = sorted(range(len(fe["words"])), key=lambda i: fe["words"][i])
    w.u(len(order))
    for i in order:  # std::map iterates keys in sorted order
        w.string(fe["words"][i])
        w.matrix(np.asarray(fe["vectors"][i]).reshape(-1, 1), digits=24)
    _write_morph_fe(w, fe["morph"])


def read_total_word_feature_extractor(path: str) -> dict:
    r = DlibReader(open(path, "rb").read())
    classname = r.string()
    if classname != "mitie::total_word_feature_extractor":
        raise ValueError(f"not a total_word_feature_extractor file: {classname}")
    return _read_twfe_body(r)


def write_total_word_feature_extractor(path: str, fe: dict) -> None:
    w = DlibWriter()
    w.string("mitie::total_word_feature_extractor")
    _write_twfe_body(w, fe)
    open(path, "wb").write(w.getvalue())


def _read_segmenter(r: DlibReader):
    version = r.s()
    if version != 1:
        raise ValueError(f"sequence_segmenter version {version}")
    use_bio = r.boolean()
    use_high_order = r.boolean()
    total_feats = r.u()
    num_feats = r.u()  # labeler → feature_extractor → ner_feature_extractor
    weights = r.matrix(np.float64).reshape(-1)
    if len(weights) != total_feats:
        raise ValueError("segmenter weight size mismatch")
    return {
        "use_BIO_model": use_bio,
        "use_high_order_features": use_high_order,
        "num_feats": num_feats,
        "weights": weights,
    }


def _write_segmenter(w: DlibWriter, seg: dict) -> None:
    w.s(1)
    w.boolean(seg["use_BIO_model"])
    w.boolean(seg["use_high_order_features"])
    w.u(len(seg["weights"]))
    w.u(seg["num_feats"])
    w.matrix(np.asarray(seg["weights"]).reshape(-1, 1))


def _read_multiclass_df(r: DlibReader):
    weights = r.matrix(np.float64)
    b = r.matrix(np.float64).reshape(-1)
    labels = [r.u() for _ in range(r.u())]
    return {"weights": weights, "b": b, "labels": labels}


def _write_multiclass_df(w: DlibWriter, df: dict) -> None:
    w.matrix(df["weights"])
    w.matrix(np.asarray(df["b"]).reshape(-1, 1))
    w.vector_u(df["labels"])


def read_named_entity_extractor(path: str) -> dict:
    r = DlibReader(open(path, "rb").read())
    classname = r.string()
    if classname != "mitie::named_entity_extractor":
        raise ValueError(f"not a named_entity_extractor file: {classname}")
    version = r.s()
    if version != 2:
        raise ValueError(f"named_entity_extractor version {version}")
    fingerprint = r.u()
    tags = r.vector_str()
    fe = _read_twfe_body(r)
    seg = _read_segmenter(r)
    df = _read_multiclass_df(r)
    return {
        "fingerprint": fingerprint,
        "tags": tags,
        "fe": fe,
        "segmenter": seg,
        "df": df,
    }


def write_named_entity_extractor(path: str, ner: dict) -> None:
    w = DlibWriter()
    w.string("mitie::named_entity_extractor")
    w.s(2)
    w.u(ner["fingerprint"])
    w.vector_str(ner["tags"])
    _write_twfe_body(w, ner["fe"])
    _write_segmenter(w, ner["segmenter"])
    _write_multiclass_df(w, ner["df"])
    open(path, "wb").write(w.getvalue())


def read_text_categorizer(path: str) -> dict:
    """mitie::text_categorizer full model — version 2, model fingerprint,
    tag_name_strings, embedded total_word_feature_extractor, multiclass df
    (text_categorizer.h:182-200)."""
    r = DlibReader(open(path, "rb").read())
    classname = r.string()
    if classname != "mitie::text_categorizer":
        raise ValueError(f"not a text_categorizer file: {classname}")
    version = r.s()
    if version != 2:
        raise ValueError(f"text_categorizer version {version}")
    fingerprint = r.u()
    tags = r.vector_str()
    fe = _read_twfe_body(r)
    df = _read_multiclass_df(r)
    return {"fingerprint": fingerprint, "tags": tags, "fe": fe, "df": df}


def write_text_categorizer(path: str, cat: dict) -> None:
    w = DlibWriter()
    w.string("mitie::text_categorizer")
    w.s(2)
    w.u(cat["fingerprint"])
    w.vector_str(cat["tags"])
    _write_twfe_body(w, cat["fe"])
    _write_multiclass_df(w, cat["df"])
    open(path, "wb").write(w.getvalue())


# ---------------------------------------------------------------------------
# pure models (df-only files; the word-feature extractor ships separately)
# ---------------------------------------------------------------------------


def _read_pure_model_version(r: DlibReader, base: str) -> int:
    """Shared header: legacy classname ⇒ version 0, `_with_version`
    classname ⇒ explicit int (named_entity_extractor.cpp:40-50;
    text_categorizer.cpp:37-46)."""
    classname = r.string()
    if classname == f"mitie::{base}_pure_model":
        return 0
    if classname == f"mitie::{base}_pure_model_with_version":
        return r.s()
    raise ValueError(f"not a mitie::{base}_pure_model file: {classname}")


def read_ner_pure_model(path: str) -> dict:
    """named_entity_extractor pure model: df, segmenter, tag_name_strings
    [, tfe_fingerprint at version ≥ 1] (named_entity_extractor.cpp:52-68)."""
    r = DlibReader(open(path, "rb").read())
    version = _read_pure_model_version(r, "named_entity_extractor")
    if version not in (0, 1):
        raise ValueError(f"unsupported pure model version {version}")
    df = _read_multiclass_df(r)
    seg = _read_segmenter(r)
    tags = r.vector_str()
    tfe_fp = r.u() if version >= 1 else None
    return {"df": df, "segmenter": seg, "tags": tags, "tfe_fingerprint": tfe_fp}


def write_ner_pure_model(path: str, ner: dict) -> None:
    """Always the `_with_version` form at max version 1, like
    mitie_save_named_entity_extractor_pure_model (mitie.cpp:1080-1100)."""
    w = DlibWriter()
    w.string("mitie::named_entity_extractor_pure_model_with_version")
    w.s(1)
    _write_multiclass_df(w, ner["df"])
    _write_segmenter(w, ner["segmenter"])
    w.vector_str(ner["tags"])
    w.u(int(ner["tfe_fingerprint"]))
    open(path, "wb").write(w.getvalue())


def read_text_categorizer_pure_model(path: str) -> dict:
    """text_categorizer pure model: df, tag_name_strings [, tfe_fingerprint
    at version ≥ 1] (text_categorizer.cpp:48-64)."""
    r = DlibReader(open(path, "rb").read())
    version = _read_pure_model_version(r, "text_categorizer")
    if version not in (0, 1):
        raise ValueError(f"unsupported pure model version {version}")
    df = _read_multiclass_df(r)
    tags = r.vector_str()
    tfe_fp = r.u() if version >= 1 else None
    return {"df": df, "tags": tags, "tfe_fingerprint": tfe_fp}


def write_text_categorizer_pure_model(path: str, cat: dict) -> None:
    """mitie_save_text_categorizer_pure_model (mitie.cpp:1175-1195)."""
    w = DlibWriter()
    w.string("mitie::text_categorizer_pure_model_with_version")
    w.s(1)
    _write_multiclass_df(w, cat["df"])
    w.vector_str(cat["tags"])
    w.u(int(cat["tfe_fingerprint"]))
    open(path, "wb").write(w.getvalue())


# ---------------------------------------------------------------------------
# model fingerprints (murmur3-128 over a component-serialization buffer)
# ---------------------------------------------------------------------------


def compute_ner_fingerprint(
    tags: list[str], tfe_fingerprint: int, seg: dict, df: dict
) -> int:
    """named_entity_extractor.h:266-277 — murmur_hash3_128bit over
    "fingerprint" (raw bytes, ostream <<, no length prefix) + serialized
    tag_name_strings + tfe fingerprint u64 + segmenter + df; .first half."""
    from mitie_spark.functions.hashing import murmur_hash3_128

    w = DlibWriter()
    w.parts.append(b"fingerprint")
    w.vector_str(tags)
    w.u(int(tfe_fingerprint))
    _write_segmenter(w, seg)
    _write_multiclass_df(w, df)
    return murmur_hash3_128(w.getvalue())[0]


def compute_text_categorizer_fingerprint(
    tags: list[str], tfe_fingerprint: int, df: dict
) -> int:
    """text_categorizer.h:215-227 — same buffer minus the segmenter."""
    from mitie_spark.functions.hashing import murmur_hash3_128

    w = DlibWriter()
    w.parts.append(b"fingerprint")
    w.vector_str(tags)
    w.u(int(tfe_fingerprint))
    _write_multiclass_df(w, df)
    return murmur_hash3_128(w.getvalue())[0]


def read_binary_relation_detector(path: str) -> dict:
    r = DlibReader(open(path, "rb").read())
    classname = r.string()
    if classname != "mitie::binary_relation_detector":
        raise ValueError(f"not a binary_relation_detector file: {classname}")
    version = r.s()
    if version != 1:
        raise ValueError(f"binary_relation_detector version {version}")
    relation_type = r.string()
    fingerprint = r.u()
    alpha = r.matrix(np.float64).reshape(-1)
    b = r.f()
    # sparse_linear_kernel serializes nothing (sparse_kernel.h:300-312)
    nbasis = -r.s()
    nbasis_c = -r.s()
    if nbasis_c != 1 and nbasis != 0:
        raise ValueError("unexpected basis_vectors shape")
    basis = [r.sparse_vector() for _ in range(nbasis * max(nbasis_c, 1))]
    return {
        "relation_type": relation_type,
        "fingerprint": fingerprint,
        "alpha": alpha,
        "b": b,
        "basis_vectors": basis,
    }


def write_binary_relation_detector(path: str, det: dict) -> None:
    w = DlibWriter()
    w.string("mitie::binary_relation_detector")
    w.s(1)
    w.string(det["relation_type"])
    w.u(det["fingerprint"])
    w.matrix(np.asarray(det["alpha"]).reshape(-1, 1))
    w.f(det["b"])
    w.s(-len(det["basis_vectors"]))
    w.s(-1)
    for sv in det["basis_vectors"]:
        w.sparse_vector(sv)
    open(path, "wb").write(w.getvalue())


def relation_weights_from_detector(
    det: dict, n_dims: int | None = None
) -> tuple[np.ndarray, float]:
    """Collapse the linear-kernel decision function into one weight vector:
    f(x) = Σ alpha_i·<basis_i, x> − b  ⇒  w = Σ alpha_i·basis_i
    (binary_relation_detector.h:68-77; dlib decision_function semantics).
    ``n_dims`` defaults to the highest basis index + 1 — THE derivation;
    callers with a known feature-space width pass it explicitly."""
    if n_dims is None:
        n_dims = 1 + max(
            (i for sv in det["basis_vectors"] for i, _ in sv), default=0
        )
    w = np.zeros(n_dims, dtype=np.float64)
    for a, sv in zip(det["alpha"], det["basis_vectors"]):
        for i, v in sv:
            w[i] += a * v
    return w, float(det["b"])


# ---------------------------------------------------------------------------
# feature source + NerModel conversion
# ---------------------------------------------------------------------------


class DlibTotalWordFeatureExtractor:
    """Word-feature source backed by a loaded dlib extractor: dictionary
    hit → the stored total vector; miss → [1, 0…0, morph(word)] with
    digits folded to '#' before the probe
    (total_word_feature_extractor.h:34-45,107-137)."""

    kind = "dlib"

    def __init__(self, fe: dict):
        from mitie_spark.functions import morphology as _morph

        self.words = list(fe["words"])
        self.vectors = np.asarray(fe["vectors"], dtype=np.float32)
        self.non_morph_feats = int(fe["non_morph_feats"])
        self.file_fingerprint = int(fe["fingerprint"])
        self.morph_trans = np.asarray(
            fe["morph"]["morph_trans"], dtype=np.float32
        )
        ss = fe["morph"]["substrings"]
        if (
            int(ss["mask"]) != _morph._MASK
            or int(ss["mask_bits"]) != _morph._MASK_BITS
            # init_hash is honored by the C++ reader (only the constructor
            # defaults it); the port hardcodes _INIT_HASH, so a file with a
            # different seed must fail fast, not silently mis-hash every
            # morph substring lookup
            or int(ss["init_hash"]) != _morph._INIT_HASH
        ):
            raise ValueError("substring-set geometry mismatch vs the port")
        if not np.array_equal(
            np.asarray(ss["crc_table"], dtype=np.uint32), _morph._CRC
        ):
            raise ValueError(
                "CRC table mismatch — dlib file disagrees with the ported "
                "rolling hash (functions/morphology.py)"
            )
        sset = _morph.ApproximateSubstringSet()
        sset.hash_table = np.asarray(ss["hash_table"], dtype=np.uint16)
        sset.max_substr_len = int(ss["max_substr_len"])
        self.substring_set = sset
        self._wid = {w: i for i, w in enumerate(self.words)}
        self._cache: dict[str, np.ndarray] = {}

    @property
    def dims(self) -> int:
        return self.non_morph_feats + self.morph_trans.shape[1]

    @property
    def fingerprint(self) -> int:
        return self.file_fingerprint

    def token_features(self, word: str) -> np.ndarray:
        v = self._cache.get(word)
        if v is None:
            from mitie_spark.functions.tokenizer import fold_digits

            folded = fold_digits(word)
            i = self._wid.get(folded)
            if i is not None:
                v = self.vectors[i]
            else:
                v = np.zeros(self.dims, dtype=np.float32)
                v[0] = 1.0
                for h in self.substring_set.find_substrings(folded):
                    v[self.non_morph_feats :] += self.morph_trans[h]
            if len(self._cache) < 500_000:
                self._cache[word] = v
        return v

    def to_dict(self) -> dict:
        from mitie_spark.functions import morphology as _morph

        sset = self.substring_set
        return {
            "fingerprint": self.file_fingerprint,
            "non_morph_feats": self.non_morph_feats,
            "words": self.words,
            "vectors": self.vectors,
            "morph": {
                "substrings": {
                    "mask": _morph._MASK,
                    "mask_bits": _morph._MASK_BITS,
                    "init_hash": _morph._INIT_HASH,
                    "max_substr_len": sset.max_substr_len,
                    "hash_table": sset.hash_table,
                    "crc_table": _morph._CRC,
                },
                "morph_trans": self.morph_trans,
            },
        }


class DlibTextCategorizer:
    """Scoring port of a loaded mitie::text_categorizer.

    Features follow text_feature_extraction.cpp exactly: hashed BoW pairs
    ``make_feat(shash(word, 0))`` + ``make_feat(shash(stem_word(word), 10))``
    (:39-60, duplicates index-sorted and summed per
    make_sparse_vector_inplace), and — when the extractor has nonzero
    dimensions — the mean word vector at indices MAX_FEAT+i (:11-35).
    Prediction is argmax_k w_k·x − b_k with first-max tie-breaking (dlib
    function.h:781-813); an out-of-range class id labels the document
    "Unseen" (text_categorizer.cpp:152-155)."""

    UNSEEN = "Unseen"
    kind = "dlib"

    def __init__(
        self,
        tags: list[str],
        df: dict,
        fe: dict | None,
        tfe_fingerprint: int | None = None,
    ):
        self.tags = list(tags)
        self.W = np.asarray(df["weights"], dtype=np.float64)
        self.bvec = np.asarray(df["b"], dtype=np.float64).reshape(-1)
        self.labels = [int(l) for l in df["labels"]]
        fe_dims = (
            0
            if fe is None
            else int(fe["non_morph_feats"]) + fe["morph"]["morph_trans"].shape[1]
        )
        # fe.get_num_dimensions() == 0 ⇒ BoW-only scoring
        # (text_categorizer.cpp:144-149)
        self.fs = DlibTotalWordFeatureExtractor(fe) if fe_dims > 0 else None
        if (
            tfe_fingerprint is not None
            and self.fs is not None
            and self.fs.fingerprint != tfe_fingerprint
        ):
            raise ValueError(
                "feature extractor must be same as the one used for "
                "training the model (text_categorizer.cpp:72-75 guard)"
            )
        self.tfe_fingerprint = (
            tfe_fingerprint
            if tfe_fingerprint is not None
            else (self.fs.fingerprint if self.fs is not None else 0)
        )
        self.fingerprint = compute_text_categorizer_fingerprint(
            self.tags, self.tfe_fingerprint, df
        )

    def __call__(self, tokens: list[str]) -> tuple[str, float]:
        from mitie_spark.functions.hashing import MAX_FEAT
        from mitie_spark.models.text_categorizer import extract_combined_features

        tokens = list(tokens)
        ncols = self.W.shape[1]
        # raises ValueError on an empty list, where the reference's
        # extract_BoW_features only asserts (text_feature_extraction.cpp:43)
        idxs, vals = extract_combined_features(tokens)
        keep = idxs < ncols  # dlib sparse dot skips out-of-range indices
        # einsum (not BLAS matvec) so scores don't drift with batch shape
        scores = (
            np.einsum("kj,j->k", self.W[:, idxs[keep]], vals[keep]) - self.bvec
        )
        if self.fs is not None:
            from mitie_spark.models.ner_model import dlib_f32_mean

            # sequential float32 sum + reciprocal multiply, matching the
            # reference's all_sum loop (text_feature_extraction.cpp:24-29)
            # bit-exactly
            mean = dlib_f32_mean(
                np.stack([self.fs.token_features(w) for w in tokens])
            ).astype(np.float64)
            hi = min(MAX_FEAT + len(mean), ncols)
            if hi > MAX_FEAT:
                scores += np.einsum(
                    "kj,j->k",
                    self.W[:, MAX_FEAT:hi],
                    mean[: hi - MAX_FEAT],
                )
        k = int(np.argmax(scores))
        label = self.labels[k]
        tag = self.tags[label] if label < len(self.tags) else self.UNSEEN
        return tag, float(scores[k])

    def to_dict(self) -> dict:
        """Render back to the serializable full-model object graph (an
        extractor-less categorizer keeps a zero-dim embedded fe, like a
        default-constructed total_word_feature_extractor)."""
        df = {
            "weights": self.W,
            "b": self.bvec,
            "labels": list(self.labels),
        }
        fe = (
            self.fs.to_dict()
            if self.fs is not None
            else _empty_twfe_dict()
        )
        return {
            "fingerprint": self.fingerprint,
            "tags": list(self.tags),
            "fe": fe,
            "df": df,
            "tfe_fingerprint": self.tfe_fingerprint,
        }


def _empty_twfe_dict() -> dict:
    """A default-constructed total_word_feature_extractor (zero dims, empty
    dictionary, empty morphology) in this module's dict schema."""
    from mitie_spark.functions import morphology as _morph

    sset = _morph.ApproximateSubstringSet()
    return {
        "fingerprint": 0,
        "non_morph_feats": 0,
        "words": [],
        "vectors": np.zeros((0, 0), np.float32),
        "morph": {
            "substrings": {
                "mask": _morph._MASK,
                "mask_bits": _morph._MASK_BITS,
                "init_hash": _morph._INIT_HASH,
                "max_substr_len": sset.max_substr_len,
                "hash_table": sset.hash_table,
                "crc_table": _morph._CRC,
            },
            "morph_trans": np.zeros((_morph._MASK + 1, 0), np.float32),
        },
    }


def _peek_classname(path: str) -> str:
    """First serialized string of the file (the mitie classname), read
    from a 256-byte head — full models are dispatched on it without
    reading the (potentially 400MB) body twice. Pure-model files start
    with a non-string record; any decode failure means "not a classname"."""
    with open(path, "rb") as fh:
        head = fh.read(256)
    try:
        return DlibReader(head).string()
    except (ValueError, UnicodeDecodeError):
        return ""


def text_categorizer_from_dlib(
    path: str, fe_path: str | None = None
) -> DlibTextCategorizer:
    """Load a full mitie::text_categorizer, or a pure model plus (optional)
    separate extractor file, mirroring the three reference constructors
    (text_categorizer.cpp:10-113)."""
    if _peek_classname(path) == "mitie::text_categorizer":
        cat = read_text_categorizer(path)
        return DlibTextCategorizer(cat["tags"], cat["df"], cat["fe"])
    pm = read_text_categorizer_pure_model(path)
    fe = read_total_word_feature_extractor(fe_path) if fe_path else None
    if (
        pm["tfe_fingerprint"] is not None
        and fe is not None
        and fe["fingerprint"] != pm["tfe_fingerprint"]
    ):
        raise ValueError(
            "feature extractor must be same as the one used for training "
            "the model (text_categorizer.cpp:72-75 guard)"
        )
    return DlibTextCategorizer(
        pm["tags"], pm["df"], fe, pm["tfe_fingerprint"]
    )


def ner_model_from_dlib(path: str, fe_path: str | None = None):
    """Load a real MITIE ``ner_model.dat`` into a ready-to-run NerModel:
    the embedded extractor becomes the word-feature source, the segmenter
    weight vector decodes into (W_seg, T_seg), and the multiclass df rows
    (reordered by label id) become the chunk classifier
    (named_entity_extractor.cpp:35-118 semantics). Pure-model files (df +
    segmenter only, no embedded extractor) load with ``fe_path`` supplying
    the separate total_word_feature_extractor blob
    (named_entity_extractor.cpp:36-83)."""
    from mitie_spark.functions.hashing import MAX_FEAT
    from mitie_spark.models.ner_model import NerModel

    if _peek_classname(path) == "mitie::named_entity_extractor":
        ner = read_named_entity_extractor(path)
    else:
        pm = read_ner_pure_model(path)
        if fe_path is None:
            raise ValueError(
                "pure-model NER file needs the separate "
                "total_word_feature_extractor blob (fe_filename)"
            )
        fe = read_total_word_feature_extractor(fe_path)
        if (
            pm["tfe_fingerprint"] is not None
            and fe["fingerprint"] != pm["tfe_fingerprint"]
        ):
            raise ValueError(
                "Fingerprint mismatch: feature extractor must be same as "
                "the one used for training the model "
                "(named_entity_extractor.cpp:74-80 guard)"
            )
        ner = {
            "fingerprint": compute_ner_fingerprint(
                pm["tags"], fe["fingerprint"], pm["segmenter"], pm["df"]
            ),
            "tags": pm["tags"],
            "fe": fe,
            "segmenter": pm["segmenter"],
            "df": pm["df"],
        }
    fs = DlibTotalWordFeatureExtractor(ner["fe"])
    d = fs.dims
    seg = ner["segmenter"]
    if seg["use_high_order_features"]:
        raise NotImplementedError(
            "high-order segmenter features are not supported (MITIE ships "
            "use_high_order_features=false)"
        )
    use_bio = bool(seg["use_BIO_model"])
    label_map = DLIB_TO_OURS_BIO if use_bio else DLIB_TO_OURS
    NL = len(label_map)
    if seg["num_feats"] != d:
        raise ValueError("segmenter dims disagree with the extractor")
    w = seg["weights"]
    base = NL * d
    if len(w) != 3 * base + NL * NL + NL:
        raise ValueError("unexpected segmenter weight layout")
    # decode per sequence_segmenter.h:208-253 with label remapping
    W_seg = np.zeros((NL, 3 * d + 1))
    T_seg = np.zeros((NL, NL))
    for dl, ours in label_map.items():
        for slot in range(3):
            W_seg[ours, slot * d : (slot + 1) * d] = w[
                slot * base + dl * d : slot * base + (dl + 1) * d
            ]
        W_seg[ours, -1] = w[3 * base + NL * NL + dl]
    for dp, op in label_map.items():
        for dc, oc in label_map.items():
            T_seg[op, oc] = w[3 * base + dp * NL + dc]

    df = ner["df"]
    K, F = df["weights"].shape
    if F != MAX_FEAT + 5 * d:
        raise ValueError(
            f"df feature dims {F} != MAX_FEAT + 5·{d} — extractor mismatch"
        )
    W = np.zeros((K, F))
    b = np.zeros(K)
    for row, label in enumerate(df["labels"]):
        W[label] = df["weights"][row]
        b[label] = -df["b"][row]  # dlib argmax of w·x − b
    return NerModel(
        W_seg=W_seg,
        T_seg=T_seg,
        W_cls_sparse=W[:, :MAX_FEAT],
        W_cls_dense=W[:, MAX_FEAT:],
        b_cls=b,
        tags=ner["tags"],
        fs=fs,
        use_bio=use_bio,
    )


def ner_model_to_dlib(model) -> dict:
    """Inverse of ``ner_model_from_dlib`` — render a NerModel whose
    word-feature source is a DlibTotalWordFeatureExtractor back into the
    reference's serializable object graph (the shape-augmented CCA sources
    are NOT expressible: dlib's OOV path is [1, 0…0, morph] with no shape
    block)."""
    from mitie_spark.functions.hashing import MAX_FEAT

    fs = model.fs
    if fs.kind != "dlib":
        raise ValueError(
            "only dlib-kind word-feature sources are expressible in the "
            f"reference format (got {fs.kind})"
        )
    d = fs.dims
    label_map = DLIB_TO_OURS_BIO if model.use_bio else DLIB_TO_OURS
    NL = len(label_map)
    base = NL * d
    w = np.zeros(3 * base + NL * NL + NL)
    for dl, ours in label_map.items():
        for slot in range(3):
            w[slot * base + dl * d : slot * base + (dl + 1) * d] = model.W_seg[
                ours, slot * d : (slot + 1) * d
            ]
        w[3 * base + NL * NL + dl] = model.W_seg[ours, -1]
    for dp, op in label_map.items():
        for dc, oc in label_map.items():
            w[3 * base + dp * NL + dc] = model.T_seg[op, oc]
    K = model.b_cls.shape[0]
    weights = np.concatenate(
        [model.W_cls_sparse, model.W_cls_dense], axis=1
    )
    assert weights.shape[1] == MAX_FEAT + 5 * d
    seg_dict = {
        "use_BIO_model": model.use_bio,
        "use_high_order_features": False,
        "num_feats": d,
        "weights": w,
    }
    df_dict = {
        "weights": weights,
        "b": -model.b_cls,
        "labels": list(range(K)),
    }
    return {
        # the stored model fingerprint is murmur3 over the components
        # (named_entity_extractor.h:266-277), not the extractor's own
        "fingerprint": compute_ner_fingerprint(
            list(model.tags), fs.fingerprint, seg_dict, df_dict
        ),
        "tags": list(model.tags),
        "fe": fs.to_dict(),
        "segmenter": seg_dict,
        "df": df_dict,
    }


def main():
    import argparse

    ap = argparse.ArgumentParser(
        description="Convert MITIE dlib-binary models to .npz artifacts"
    )
    ap.add_argument("command", choices=["convert-ner"])
    ap.add_argument("src")
    ap.add_argument("dst")
    args = ap.parse_args()
    if args.command == "convert-ner":
        model = ner_model_from_dlib(args.src)
        model.save(args.dst)
        print(
            f"converted {args.src}: tags={model.tags} dims={model.fs.dims} "
            f"fingerprint={model.fs.fingerprint}"
        )


if __name__ == "__main__":
    main()
