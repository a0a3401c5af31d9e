"""ISO BMFF (MP4) container parsing: real box walk, real sample tables,
real frame byte-range extraction — only the codec bitstream decode
(H.264/HEVC/AAC) stays behind the injected-decoder seam.

This narrows the honest media seam the same way operators/jpeg.py did for
JPEG: the container layer needs no codec library at all.  An MP4 is a tree
of length-prefixed boxes; the ``moov`` tree carries complete per-track
sample tables (ISO/IEC 14496-12 §8: stts/stsz/stsc/stco/stss) that map
every coded frame to an exact (byte offset, byte size, decode time,
is-sync) tuple.  Parsing those tables makes video frame sampling REAL:
``sample_video_frames`` slices the actual coded sample bytes for a
deterministic schedule and ships them to whatever frame decoder is
injected — the Spark plumbing (schema, Arrow batch shape, per-payload
error degradation) is identical with or without a codec.

Reference parity note: the reference engine (mit-nlp/MITIE) is text-only;
this module belongs to the LLM-data-pipeline surface (multimodal columns)
the build adds on top.  Everything here derives from the public ISO BMFF
box layout (mirrored by mp4parse/libmp4 and the QuickTime spec).

Scale shape: parsing is per-payload, header-bounded work inside an
Arrow-batched ``mapInPandas`` — the ``moov`` tree of a multi-GB video is
a few hundred KB, and only sampled frame bytes (not whole payloads) leave
the stage.  Hostile-input bounds (box count, recursion depth, sample
count) are explicit so one crafted blob cannot pin a corpus-scale task.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass, field

import numpy as np

from mitie_spark.operators.media_codecs import UnsupportedMediaError

# hostile-input bounds: a real moov tree is a few thousand boxes at depth
# ~6; these caps only trip on crafted payloads (box-count bombs, pathological
# nesting, billion-sample stsz declarations)
_MAX_BOXES = 100_000
_MAX_DEPTH = 16
_MAX_SAMPLES = 4_000_000


@dataclass
class TrackTable:
    """One track's fully-resolved sample table."""

    track_id: int
    handler: str  # 'vide' | 'soun' | other fourcc
    codec: str  # stsd entry fourcc, e.g. 'avc1', 'mp4v', 'mp4a'
    timescale: int
    duration_ms: float
    width: int = 0
    height: int = 0
    # per-sample arrays (aligned, length = sample count)
    offsets: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    sizes: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    times_ms: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    sync: np.ndarray = field(default_factory=lambda: np.empty(0, bool))


@dataclass
class Mp4Info:
    major_brand: str
    movie_timescale: int
    duration_ms: float
    tracks: list[TrackTable]

    def video_track(self) -> TrackTable | None:
        for t in self.tracks:
            if t.handler == "vide":
                return t
        return None


# ---------------------------------------------------------------------------
# box walking
# ---------------------------------------------------------------------------


def _walk_boxes(buf: bytes, start: int, end: int, depth: int, budget: list):
    """Yield (fourcc, body_start, body_end) for each box in [start, end).

    Handles the three ISO BMFF size encodings: plain 32-bit, size==1 →
    64-bit largesize follows the fourcc, size==0 → box extends to `end`.
    """
    if depth > _MAX_DEPTH:
        raise UnsupportedMediaError("MP4 box nesting exceeds depth bound")
    pos = start
    while pos + 8 <= end:
        budget[0] -= 1
        if budget[0] < 0:
            raise UnsupportedMediaError("MP4 box count exceeds bound")
        size = struct.unpack_from(">I", buf, pos)[0]
        fourcc = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise UnsupportedMediaError("truncated MP4 largesize box")
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            body = pos + 16
            if size < 16:
                raise UnsupportedMediaError("invalid MP4 largesize")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise UnsupportedMediaError(f"invalid MP4 box size {size}")
        box_end = pos + size
        if box_end > end:
            raise UnsupportedMediaError("MP4 box overruns container")
        yield fourcc, body, box_end
        pos = box_end


def _children(buf, start, end, depth, budget) -> dict[bytes, tuple[int, int]]:
    """First occurrence of each child box type (sufficient for the single
    video/audio track layouts this stage samples; multi-trak handled at the
    moov level where all 'trak' boxes are collected explicitly)."""
    out: dict[bytes, tuple[int, int]] = {}
    for fourcc, b, e in _walk_boxes(buf, start, end, depth, budget):
        out.setdefault(fourcc, (b, e))
    return out


def _full_box(buf: bytes, start: int, end: int) -> tuple[int, int, int]:
    """FullBox header: returns (version, flags, body_start_after_header)."""
    if start + 4 > end:
        raise UnsupportedMediaError("truncated MP4 full box")
    vf = struct.unpack_from(">I", buf, start)[0]
    return vf >> 24, vf & 0xFFFFFF, start + 4


def _need(have: int, want: int, what: str):
    if have < want:
        raise UnsupportedMediaError(f"truncated MP4 {what}")


def _u32s(buf: bytes, start: int, count: int, what: str) -> np.ndarray:
    _need(len(buf) - start, 4 * count, what)
    return np.frombuffer(buf, dtype=">u4", count=count, offset=start).astype(
        np.int64
    )


# ---------------------------------------------------------------------------
# sample-table resolution (stts / stsz / stsc / stco|co64 / stss)
# ---------------------------------------------------------------------------


def _resolve_samples(buf: bytes, stbl: dict, budget: list, timescale: int):
    """Expand the four compressed tables into aligned per-sample arrays.

    ISO 14496-12 stores the sample→byte mapping run-length compressed:
    stsc says "chunks fc..next_fc-1 hold k samples each", stco gives chunk
    start offsets, stsz per-sample sizes; a sample's offset is its chunk's
    start plus the sizes of the samples before it in that chunk.  All the
    expansion below is vectorized (np.repeat / cumsum) so a million-sample
    movie resolves in milliseconds.
    """
    for req in (b"stts", b"stsz", b"stsc"):
        if req not in stbl:
            raise UnsupportedMediaError(f"MP4 stbl missing {req.decode()}")
    if b"stco" not in stbl and b"co64" not in stbl:
        raise UnsupportedMediaError("MP4 stbl missing stco/co64")

    # stsz → sizes ------------------------------------------------------
    s, e = stbl[b"stsz"]
    _, _, p = _full_box(buf, s, e)
    _need(e - p, 8, "stsz")
    uniform, n = struct.unpack_from(">II", buf, p)
    if n > _MAX_SAMPLES:
        raise UnsupportedMediaError(f"MP4 declares {n} samples (bound)")
    if uniform:
        sizes = np.full(n, uniform, dtype=np.int64)
    else:
        sizes = _u32s(buf, p + 8, n, "stsz table")

    # stts → decode times ------------------------------------------------
    s, e = stbl[b"stts"]
    _, _, p = _full_box(buf, s, e)
    _need(e - p, 4, "stts")
    cnt = struct.unpack_from(">I", buf, p)[0]
    ent = _u32s(buf, p + 4, 2 * cnt, "stts table").reshape(cnt, 2)
    if int(ent[:, 0].sum()) != n:
        raise UnsupportedMediaError("MP4 stts/stsz sample-count mismatch")
    deltas = np.repeat(ent[:, 1], ent[:, 0])
    times = np.concatenate([[0], np.cumsum(deltas)])[:-1]
    times_ms = times * (1000.0 / max(timescale, 1))

    # stco/co64 → chunk offsets -------------------------------------------
    if b"stco" in stbl:
        s, e = stbl[b"stco"]
        _, _, p = _full_box(buf, s, e)
        _need(e - p, 4, "stco")
        nch = struct.unpack_from(">I", buf, p)[0]
        chunk_off = _u32s(buf, p + 4, nch, "stco table")
    else:
        s, e = stbl[b"co64"]
        _, _, p = _full_box(buf, s, e)
        _need(e - p, 4, "co64")
        nch = struct.unpack_from(">I", buf, p)[0]
        _need(e - p - 4, 8 * nch, "co64 table")
        chunk_off = np.frombuffer(
            buf, dtype=">u8", count=nch, offset=p + 4
        ).astype(np.int64)

    # stsc → samples-per-chunk runs ---------------------------------------
    s, e = stbl[b"stsc"]
    _, _, p = _full_box(buf, s, e)
    _need(e - p, 4, "stsc")
    cnt = struct.unpack_from(">I", buf, p)[0]
    runs = _u32s(buf, p + 4, 3 * cnt, "stsc table").reshape(cnt, 3)
    if cnt == 0 or nch == 0 or n == 0:
        empty = np.empty(0, np.int64)
        return empty, empty, np.empty(0, np.float64), np.empty(0, bool)
    first = runs[:, 0]
    if first[0] != 1 or np.any(np.diff(first) <= 0) or np.any(first > nch):
        raise UnsupportedMediaError("MP4 stsc first_chunk not monotone")
    # per-chunk samples_per_chunk via run expansion
    run_len = np.diff(np.concatenate([first, [nch + 1]]))
    spc = np.repeat(runs[:, 1], run_len)
    total = int(spc.sum())
    if total < n:
        raise UnsupportedMediaError("MP4 stsc covers fewer samples than stsz")
    # chunk of each of the n samples, without expanding all `total` slots
    # (a corrupt stsc can declare billions)
    sample_chunk = np.searchsorted(np.cumsum(spc), np.arange(n), side="right")

    # per-sample offsets ---------------------------------------------------
    csum = np.concatenate([[0], np.cumsum(sizes)])
    chunk_first = np.concatenate([[0], np.cumsum(spc)])[:-1]
    chunk_first = np.minimum(chunk_first, n)  # tail chunks past the samples
    within = csum[:-1] - csum[chunk_first[sample_chunk]]
    offsets = chunk_off[sample_chunk] + within

    # stss → sync-sample mask ----------------------------------------------
    sync = np.ones(n, dtype=bool)
    if b"stss" in stbl:
        s, e = stbl[b"stss"]
        _, _, p = _full_box(buf, s, e)
        _need(e - p, 4, "stss")
        cnt = struct.unpack_from(">I", buf, p)[0]
        nums = _u32s(buf, p + 4, cnt, "stss table")
        sync[:] = False
        nums = nums[(nums >= 1) & (nums <= n)]
        sync[nums - 1] = True

    return offsets, sizes, times_ms, sync


# ---------------------------------------------------------------------------
# top-level parse
# ---------------------------------------------------------------------------


def parse_mp4(payload: bytes) -> Mp4Info:
    """Parse an ISO BMFF payload into movie metadata + resolved per-track
    sample tables. Raises UnsupportedMediaError for anything malformed —
    callers inside corpus-scale stages degrade per payload, never crash."""
    buf = bytes(payload or b"")
    if len(buf) < 16 or buf[4:8] != b"ftyp":
        raise UnsupportedMediaError("not an ISO BMFF payload")
    budget = [_MAX_BOXES]
    top = {}
    traks = []
    for fourcc, b, e in _walk_boxes(buf, 0, len(buf), 0, budget):
        top.setdefault(fourcc, (b, e))
    if b"moov" not in top:
        raise UnsupportedMediaError("MP4 missing moov (streaming/fragmented?)")
    fb, fe = top[b"ftyp"]
    major = buf[fb : fb + 4].decode("latin-1") if fe - fb >= 4 else ""

    moov = {}
    for fourcc, b, e in _walk_boxes(buf, *top[b"moov"], 1, budget):
        if fourcc == b"trak":
            traks.append((b, e))
        else:
            moov.setdefault(fourcc, (b, e))
    if b"mvhd" not in moov:
        raise UnsupportedMediaError("MP4 missing mvhd")
    ver, _, p = _full_box(buf, *moov[b"mvhd"])
    if ver == 1:
        _need(moov[b"mvhd"][1] - p, 28, "mvhd v1")
        mts = struct.unpack_from(">I", buf, p + 16)[0]
        mdur = struct.unpack_from(">Q", buf, p + 20)[0]
    else:
        _need(moov[b"mvhd"][1] - p, 16, "mvhd")
        mts, mdur = struct.unpack_from(">II", buf, p + 8)
    info = Mp4Info(
        major_brand=major,
        movie_timescale=mts,
        duration_ms=mdur * (1000.0 / max(mts, 1)),
        tracks=[],
    )

    for tb, te in traks:
        trak = _children(buf, tb, te, 2, budget)
        if b"tkhd" not in trak or b"mdia" not in trak:
            continue
        ver, _, p = _full_box(buf, *trak[b"tkhd"])
        if ver == 1:
            _need(trak[b"tkhd"][1] - p, 32, "tkhd v1")
            track_id = struct.unpack_from(">I", buf, p + 16)[0]
        else:
            _need(trak[b"tkhd"][1] - p, 20, "tkhd")
            track_id = struct.unpack_from(">I", buf, p + 8)[0]
        # width/height are the last two 16.16 fields of the 80/92-byte body
        tkhd_end = trak[b"tkhd"][1]
        width = height = 0
        if tkhd_end - p >= 8:
            w_fixed, h_fixed = struct.unpack_from(">II", buf, tkhd_end - 8)
            width, height = w_fixed >> 16, h_fixed >> 16

        mdia = _children(buf, *trak[b"mdia"], 3, budget)
        if b"mdhd" not in mdia or b"minf" not in mdia:
            continue
        ver, _, p = _full_box(buf, *mdia[b"mdhd"])
        if ver == 1:
            _need(mdia[b"mdhd"][1] - p, 28, "mdhd v1")
            ts = struct.unpack_from(">I", buf, p + 16)[0]
            dur = struct.unpack_from(">Q", buf, p + 20)[0]
        else:
            _need(mdia[b"mdhd"][1] - p, 16, "mdhd")
            ts, dur = struct.unpack_from(">II", buf, p + 8)
        handler = ""
        if b"hdlr" in mdia:
            _, _, p = _full_box(buf, *mdia[b"hdlr"])
            _need(mdia[b"hdlr"][1] - p, 8, "hdlr")
            handler = buf[p + 4 : p + 8].decode("latin-1")

        minf = _children(buf, *mdia[b"minf"], 4, budget)
        if b"stbl" not in minf:
            continue
        stbl = _children(buf, *minf[b"stbl"], 5, budget)
        codec = ""
        if b"stsd" in stbl:
            _, _, p = _full_box(buf, *stbl[b"stsd"])
            if stbl[b"stsd"][1] - p >= 12:
                codec = buf[p + 8 : p + 12].decode("latin-1")
        offsets, sizes, times_ms, sync = _resolve_samples(
            buf, stbl, budget, ts
        )
        info.tracks.append(
            TrackTable(
                track_id=track_id,
                handler=handler,
                codec=codec,
                timescale=ts,
                duration_ms=dur * (1000.0 / max(ts, 1)),
                width=width,
                height=height,
                offsets=offsets,
                sizes=sizes,
                times_ms=times_ms,
                sync=sync,
            )
        )
    if not info.tracks:
        raise UnsupportedMediaError("MP4 has no parseable tracks")
    return info


# ---------------------------------------------------------------------------
# deterministic frame sampling
# ---------------------------------------------------------------------------


def sample_frame_ranges(
    track: TrackTable, every_ms: int = 1000, dedupe: bool = True
) -> list[tuple[int, int, int, int]]:
    """(t_ms, sample_idx, byte_offset, byte_size) for each schedule tick.

    For each tick t ∈ {0, every_ms, 2·every_ms, …, duration) pick the
    latest SYNC sample decodable at or before t (a non-sync frame can't be
    decoded standalone); with no stss box every sample is sync.  ``dedupe``
    collapses ticks that land on the same sample — at 1 fps sampling of a
    0.5 fps keyframe track half the ticks repeat the previous keyframe.
    """
    n = len(track.offsets)
    if n == 0 or track.duration_ms <= 0:
        return []
    sync_idx = np.flatnonzero(track.sync)
    if len(sync_idx) == 0:
        return []
    sync_t = track.times_ms[sync_idx]
    ticks = np.arange(0, track.duration_ms, every_ms, dtype=np.float64)
    pick = np.searchsorted(sync_t, ticks, side="right") - 1
    keep = pick >= 0
    ticks, pick = ticks[keep], pick[keep]
    out, seen = [], set()
    for t, pi in zip(ticks, pick):
        si = int(sync_idx[pi])
        if dedupe and si in seen:
            continue
        seen.add(si)
        out.append(
            (int(t), si, int(track.offsets[si]), int(track.sizes[si]))
        )
    return out


def extract_frame_bytes(payload: bytes, ranges) -> list[bytes]:
    """Slice the actual coded sample bytes for each sampled frame."""
    out = []
    n = len(payload)
    for _, _, off, size in ranges:
        if off < 0 or size < 0 or off + size > n:
            raise UnsupportedMediaError("MP4 sample range outside payload")
        out.append(payload[off : off + size])
    return out


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

FRAME_SCHEMA = (
    "media_id:bigint,frame_idx:int,t_ms:int,sample_idx:int,codec:string,"
    "width:int,height:int,frame_payload:binary,frame_hash:string"
)


def sample_video_frames(media, every_ms: int = 1000):
    """media table → one row per sampled video frame, with the REAL coded
    sample bytes sliced out of the container.

    This is the scale path for video: the container parse is header-bounded
    CPU, and only the sampled frame bytes (keyframes at ~1/s, typically
    10-100 KB each) leave the stage — never the full payload.  Codec decode
    of ``frame_payload`` happens downstream behind the injected-decoder
    seam (operators/multimodal.py); unparseable/non-MP4 payloads yield zero
    rows so one bad blob can't kill a corpus-scale task.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "frame_idx", "t_ms", "sample_idx", "codec",
                "width", "height", "frame_payload", "frame_hash",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    info = parse_mp4(b)
                    track = info.video_track()
                    if track is None:
                        continue
                    ranges = sample_frame_ranges(track, every_ms=every_ms)
                    frames = extract_frame_bytes(b, ranges)
                except UnsupportedMediaError:
                    continue
                for fi, ((t, si, _, _), fb) in enumerate(zip(ranges, frames)):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(fi)
                    rows["t_ms"].append(t)
                    rows["sample_idx"].append(si)
                    rows["codec"].append(track.codec)
                    rows["width"].append(track.width)
                    rows["height"].append(track.height)
                    rows["frame_payload"].append(fb)
                    rows["frame_hash"].append(hashlib.md5(fb).hexdigest())
            yield pd.DataFrame(rows)

    return media.filter("kind = 'video'").mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# deterministic synthesizer (tests/goldens): writes a REAL, spec-valid MP4
# ---------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">I", (version << 24) | flags) + payload)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def encode_mp4(
    frames: list[bytes],
    fps: int = 10,
    width: int = 32,
    height: int = 32,
    codec: bytes = b"mp4v",
    sync_every: int = 5,
    samples_per_chunk: int = 3,
    use_co64: bool = False,
) -> bytes:
    """Write a minimal spec-valid MP4 holding ``frames`` as coded video
    samples (the bytes are opaque to the container — tests use seeded
    random blobs).  Layout: ftyp | mdat | moov, so chunk offsets are known
    when moov is written.  ``use_co64`` switches the chunk-offset table to
    the 64-bit form to exercise that parse path."""
    n = len(frames)
    media_ts = fps * 100
    delta = 100  # media-timescale units per frame
    movie_ts = 1000
    dur_media = n * delta
    dur_movie = dur_media * movie_ts // media_ts

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
    mdat = _box(b"mdat", b"".join(frames))
    data_start = len(ftyp) + 8

    sizes = np.array([len(f) for f in frames], dtype=np.int64)
    csum = np.concatenate([[0], np.cumsum(sizes)])
    spc = max(1, samples_per_chunk)
    nch = (n + spc - 1) // spc
    chunk_first = np.arange(nch) * spc
    chunk_off = data_start + csum[chunk_first]

    # stsc runs: uniform spc, with a shorter final chunk when n % spc != 0
    stsc_entries = [(1, spc, 1)]
    rem = n - (nch - 1) * spc
    if nch > 1 and rem != spc:
        stsc_entries.append((nch, rem, 1))
    elif nch == 1:
        stsc_entries = [(1, n, 1)]

    sample_entry = _box(
        codec,
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
    sync_nums = list(range(1, n + 1, max(1, sync_every)))
    stss = _full(
        b"stss",
        0,
        0,
        struct.pack(">I", len(sync_nums))
        + b"".join(struct.pack(">I", s) for s in sync_nums),
    )
    stsz = _full(
        b"stsz",
        0,
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", int(s)) for s in sizes),
    )
    stsc = _full(
        b"stsc",
        0,
        0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *t) for t in stsc_entries),
    )
    if use_co64:
        stco = _full(
            b"co64",
            0,
            0,
            struct.pack(">I", nch)
            + b"".join(struct.pack(">Q", int(o)) for o in chunk_off),
        )
    else:
        stco = _full(
            b"stco",
            0,
            0,
            struct.pack(">I", nch)
            + b"".join(struct.pack(">I", int(o)) for o in chunk_off),
        )
    stbl = _box(b"stbl", stsd + stts + stss + stsc + stsz + stco)
    dref = _full(
        b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")
    )
    minf = _box(
        b"minf",
        _full(b"vmhd", 0, 1, b"\x00" * 8) + _box(b"dinf", dref) + stbl,
    )
    hdlr = _full(
        b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00"
    )
    mdhd = _full(
        b"mdhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, media_ts, dur_media)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd",
        0,
        7,
        struct.pack(">IIII", 0, 0, 1, 0)  # ctime mtime track_id reserved
        + struct.pack(">I", dur_movie)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, movie_ts, dur_movie)
        + struct.pack(">I", 0x00010000)  # rate
        + struct.pack(">H", 0x0100)  # volume
        + b"\x00" * 10
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_ID
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
