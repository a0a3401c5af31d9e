"""ISO BMFF (MP4) container parsing: box walk, sample-table resolution,
frame byte-range extraction, and the Spark frame-sampling stage.

The synthesizer (encode_mp4) writes a spec-valid container around opaque
seeded frame bytes, so every golden below has a known answer: the parser
must hand back exactly the frame bytes that went in, at exactly the
declared times, through the real stts/stsz/stsc/stco expansion path.
"""

import hashlib

import numpy as np
import pytest

from mitie_spark.operators.media_codecs import UnsupportedMediaError
from mitie_spark.operators.mp4 import (
    encode_mp4,
    extract_frame_bytes,
    parse_mp4,
    sample_frame_ranges,
    sample_video_frames,
)


def _frames(n, seed=7, lo=30, hi=200):
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, 256, size=int(rng.integers(lo, hi)), dtype=np.uint8)
        .tobytes()
        for _ in range(n)
    ]


def test_roundtrip_every_sample():
    frames = _frames(17)
    blob = encode_mp4(frames, fps=10, width=48, height=36, sync_every=4,
                      samples_per_chunk=3)
    info = parse_mp4(blob)
    assert info.major_brand == "isom"
    assert info.movie_timescale == 1000
    t = info.video_track()
    assert t is not None and t.codec == "mp4v"
    assert (t.width, t.height) == (48, 36)
    assert t.timescale == 1000 and len(t.offsets) == 17
    # exact byte recovery for EVERY sample, through stsc/stco expansion
    for i, f in enumerate(frames):
        off, sz = int(t.offsets[i]), int(t.sizes[i])
        assert blob[off : off + sz] == f
    # decode times: uniform 100ms deltas
    assert np.allclose(t.times_ms, np.arange(17) * 100.0)
    assert t.duration_ms == pytest.approx(1700.0)
    # sync mask: samples 1, 5, 9, 13, 17 (1-based)
    assert np.flatnonzero(t.sync).tolist() == [0, 4, 8, 12, 16]


@pytest.mark.parametrize("spc", [1, 2, 5, 17, 40])
def test_chunking_variants_and_remainder(spc):
    """stsc run expansion incl. the shorter-final-chunk entry and the
    single-chunk degenerate case."""
    frames = _frames(17, seed=spc)
    blob = encode_mp4(frames, samples_per_chunk=spc)
    t = parse_mp4(blob).video_track()
    got = extract_frame_bytes(
        blob, [(0, i, int(t.offsets[i]), int(t.sizes[i])) for i in range(17)]
    )
    assert got == frames


def test_co64_path():
    frames = _frames(6, seed=11)
    blob = encode_mp4(frames, use_co64=True, samples_per_chunk=2)
    t = parse_mp4(blob).video_track()
    for i, f in enumerate(frames):
        off, sz = int(t.offsets[i]), int(t.sizes[i])
        assert blob[off : off + sz] == f


def test_keyframe_schedule():
    """sample_frame_ranges picks the latest SYNC sample at or before each
    tick; dedupe collapses ticks that repeat a keyframe."""
    frames = _frames(20, seed=3)
    # 10 fps, sync every 5 → keyframes at 0, 500, 1000, 1500 ms
    blob = encode_mp4(frames, fps=10, sync_every=5)
    t = parse_mp4(blob).video_track()
    ranges = sample_frame_ranges(t, every_ms=500, dedupe=True)
    assert [(r[0], r[1]) for r in ranges] == [
        (0, 0), (500, 5), (1000, 10), (1500, 15)
    ]
    # 300ms ticks repeat keyframes between sync points; dedupe=False keeps
    # the schedule, dedupe=True keeps first occurrence only
    dense = sample_frame_ranges(t, every_ms=300, dedupe=False)
    assert [r[1] for r in dense] == [0, 0, 5, 5, 10, 15, 15]
    deduped = sample_frame_ranges(t, every_ms=300, dedupe=True)
    assert [r[1] for r in deduped] == [0, 5, 10, 15]
    # extracted bytes are the true coded samples
    for _, si, off, sz in ranges:
        assert blob[off : off + sz] == frames[si]


def test_no_stss_means_every_sample_sync():
    frames = _frames(8, seed=5)
    blob = encode_mp4(frames, fps=10, sync_every=1)
    t = parse_mp4(blob).video_track()
    assert t.sync.all()
    ranges = sample_frame_ranges(t, every_ms=100)
    assert [r[1] for r in ranges] == list(range(8))


def test_hostile_inputs_degrade_to_unsupported():
    frames = _frames(5, seed=9)
    blob = encode_mp4(frames)
    # not BMFF at all / truncated
    for bad in (b"", b"\x00" * 8, b"RIFF1234WAVE", blob[:40]):
        with pytest.raises(UnsupportedMediaError):
            parse_mp4(bad)
    # box size < 8 inside the tree
    corrupt = bytearray(blob)
    moov_at = blob.find(b"moov") - 4
    corrupt[moov_at : moov_at + 4] = (3).to_bytes(4, "big")
    with pytest.raises(UnsupportedMediaError):
        parse_mp4(bytes(corrupt))
    # stsz/stts mismatch: patch the stts sample_count
    corrupt = bytearray(blob)
    stts_at = blob.find(b"stts")
    corrupt[stts_at + 12 : stts_at + 16] = (99).to_bytes(4, "big")
    with pytest.raises(UnsupportedMediaError):
        parse_mp4(bytes(corrupt))
    # stsc declaring ~4e9 samples per chunk: only the stsz sample count is
    # resolved, never the declared slots (that expansion is a 32 GB array)
    corrupt = bytearray(blob)
    stsc_at = blob.find(b"stsc")
    corrupt[stsc_at + 16 : stsc_at + 20] = (0xFFFFFFF0).to_bytes(4, "big")
    assert len(parse_mp4(bytes(corrupt)).video_track().offsets) == 5
    # sample range outside payload (truncated mdat)
    t = parse_mp4(blob).video_track()
    rngs = [(0, i, int(t.offsets[i]), int(t.sizes[i])) for i in range(5)]
    with pytest.raises(UnsupportedMediaError):
        extract_frame_bytes(blob[: int(t.offsets[-1])], rngs)


def test_sample_video_frames_stage(spark):
    """The Spark stage: real MP4 payloads in the synthetic media table →
    one row per sampled keyframe with the true coded bytes; non-video and
    unparseable payloads contribute zero rows instead of failing."""
    from mitie_spark.operators.multimodal import synth_media_table

    media = synth_media_table(spark, n=12)  # ids 2,5,8,11 are video
    rows = sample_video_frames(media, every_ms=500).collect()
    assert {r.media_id for r in rows} == {2, 5, 8, 11}
    assert all(r.codec == "mp4v" for r in rows)
    # verify one media end-to-end against a local parse of the same payload
    pay = {r.media_id: bytes(r.payload) for r in media.collect()
           if r.kind == "video"}
    blob = pay[2]
    t = parse_mp4(blob).video_track()
    expect = {
        (tick, si): hashlib.md5(blob[off : off + sz]).hexdigest()
        for tick, si, off, sz in sample_frame_ranges(t, every_ms=500)
    }
    got = {
        (r.t_ms, r.sample_idx): r.frame_hash
        for r in rows
        if r.media_id == 2
    }
    assert got == expect and len(got) >= 2
    # a hostile blob mixed in yields zero rows, not a task failure
    import pandas as pd

    bad = pd.DataFrame(
        {
            "media_id": [99],
            "kind": ["video"],
            "payload": [b"\x00\x00\x00\x10ftypisom" + b"\xff" * 64],
            "meta": [{"mime": "video/mp4", "width": 0, "height": 0,
                      "duration_ms": 0}],
        }
    )
    from mitie_spark.operators.multimodal import MEDIA_SCHEMA

    bad_df = spark.createDataFrame(bad, MEDIA_SCHEMA)
    assert sample_video_frames(bad_df).count() == 0
