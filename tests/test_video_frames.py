"""Real MP4 frame decode for Motion-JPEG tracks.

The reference has no video path at all; this is the training-data
extension closing the multimodal codec stub down to inter-frame codecs
only: ``parse_mp4(with_samples=True)`` expands stsz/stsc/stco/stts to
exact frame byte ranges, ``decode_video_frames`` slices + decodes each
via the repo's own JPEG codec, ``video_frame_features`` is the
distributed stage. Everything is fixture-built by ``build_mp4`` +
``encode_jpeg`` — no real video file, same pattern as the image
codecs."""

import hashlib

import numpy as np
import pytest

from coap_rfc_knowledge_graph_spark.functions.jpeg import decode_jpeg, encode_jpeg
from coap_rfc_knowledge_graph_spark.functions.mp4 import build_mp4, parse_mp4
from coap_rfc_knowledge_graph_spark.operators.multimodal import (
    _luma,
    decode_video_frames,
    resize_nearest,
    synthetic_mjpeg_media,
    video_frame_features,
)

# order-insensitive sha256 over the seeded 12-row MJPEG table's integer
# frame thumbnails (see FIXTURES.md for pin history)
FRAME_FEATURES_PIN = (48, "3451283ab50d2e0754f18fe766f98cff8510827dfba40afdd1147edc6e1c11fb")


def _frames(n=6, shape=(16, 16), seed=3, **enc):
    rng = np.random.Generator(np.random.Philox(key=seed))
    return [
        encode_jpeg(rng.integers(0, 256, size=shape, dtype=np.uint8), **enc)
        for _ in range(n)
    ]


def test_sample_table_slices_exact_frame_bytes():
    """stsz/stsc/stco expansion recovers each embedded frame
    byte-for-byte under one-chunk, 2-per-chunk, and ragged-last-chunk
    layouts, with the right stts timestamps."""
    frames = _frames(7)
    for fpc in (0, 2, 3, 7):
        payload = build_mp4(
            duration_ms=1750, video=(16, 16, 0), video_codec=b"jpeg",
            video_frames=frames, frames_per_chunk=fpc, audio_samples=100,
        )
        vt = [t for t in parse_mp4(payload, with_samples=True)["tracks"] if t["kind"] == "video"][0]
        assert vt["codec"] == "jpeg" and vt["n_samples"] == 7
        assert [payload[o : o + s] for o, s, _ in vt["samples"]] == frames, fpc
        assert [ts for _, _, ts in vt["samples"]] == [k * 250 for k in range(7)]


def test_expand_samples_anchors_stsc_runs_to_chunk_numbers():
    """stsc first_chunk values are absolute 1-based chunk numbers: when
    the first run starts at chunk 2, chunk 1 holds no samples."""
    from coap_rfc_knowledge_graph_spark.functions.mp4 import _expand_samples

    offsets, stts = [100, 200, 300], [(4, 1)]
    got = _expand_samples([10, 11, 12, 13], offsets, [(2, 2)], stts, 1000)
    assert got == [(200, 10, 0), (210, 11, 1), (300, 12, 2), (312, 13, 3)]
    got = _expand_samples([10, 11, 12], offsets, [(2, 1), (3, 2)], stts, 1000)
    assert got == [(200, 10, 0), (300, 11, 1), (311, 12, 2)]


def test_decode_video_frames_bit_exact_vs_direct_jpeg():
    """Each yielded frame equals decode_jpeg of the original frame
    bytes (bit-exact — same bytes, same decoder), for gray 4:4:4 and
    color 4:2:0 frames."""
    for shape, sub in [((16, 16), False), ((12, 20, 3), True)]:
        frames = _frames(5, shape=shape, subsample=sub)
        payload = build_mp4(
            duration_ms=1250, video=(20, 12, 0), video_codec=b"jpeg",
            video_frames=frames, frames_per_chunk=2,
        )
        got = list(decode_video_frames(payload, every_ms=1))
        assert [i for i, _, _ in got] == list(range(5))
        for (idx, ts, px), fb in zip(got, frames):
            assert ts == idx * 250
            assert np.array_equal(px, decode_jpeg(fb))


def test_every_ms_grid_and_max_frames():
    """The sampler keeps the first frame at-or-after each every_ms
    multiple and respects max_frames."""
    frames = _frames(8)
    payload = build_mp4(
        duration_ms=2000, video=(16, 16, 0), video_codec=b"jpeg", video_frames=frames,
    )  # ts = 0,250,...,1750
    picks = [ts for _, ts, _ in decode_video_frames(payload, every_ms=600)]
    # grid targets 0,600,1200,1800 -> first ts >= each: 0,750,1250, and
    # no frame reaches 1800 (last ts is 1750)
    assert picks == [0, 750, 1250]
    assert len(list(decode_video_frames(payload, every_ms=1, max_frames=3))) == 3


def test_every_ms_below_one_rejected():
    """every_ms=0 would divide by zero in the grid step and a negative
    grid never advances — both are rejected up front."""
    frames = _frames(2)
    payload = build_mp4(
        duration_ms=500, video=(16, 16, 0), video_codec=b"jpeg", video_frames=frames,
    )
    for bad in (0, -5):
        with pytest.raises(ValueError, match="every_ms"):
            list(decode_video_frames(payload, every_ms=bad))


def test_non_mjpeg_codec_raises_not_implemented():
    payload = build_mp4(video=(64, 48, 10))  # avc1, no embedded frames
    with pytest.raises(NotImplementedError, match="Motion-JPEG"):
        list(decode_video_frames(payload))


def test_spark_video_frame_features(spark):
    """Distributed stage: MJPEG rows fan out to real per-frame feature
    rows, avc1 + corrupt rows contribute a queryable absence (zero
    rows, zero task failures), and the output is partitioning-
    invariant. Features are content-pinned (generator + codec + luma
    thumbnail all deterministic)."""
    import pandas as pd
    from pyspark.sql import functions as F

    media = synthetic_mjpeg_media(spark, 12, partitions=4)
    out = video_frame_features(media, every_ms=250, dim=8).toPandas()
    # rows 0,1 mod 3 are MJPEG (6 frames each at fps=4 -> every 250ms
    # keeps all 6); row 2 mod 3 is avc1 -> absent
    assert sorted(out["media_id"].unique()) == [i for i in range(12) if i % 3 != 2]
    assert len(out) == 8 * 6
    assert set(out["frame_idx"]) == set(range(6))
    assert (out["ts_ms"] == out["frame_idx"] * 250).all()
    # partitioning invariance
    single = video_frame_features(
        synthetic_mjpeg_media(spark, 12, partitions=1), every_ms=250, dim=8
    ).toPandas()
    key = ["media_id", "frame_idx"]
    a = out.sort_values(key).reset_index(drop=True)
    b = single.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # corrupt payload: no failure, no rows
    bad = media.withColumn(
        "payload", F.expr("substring(payload, 1, 40)")
    )
    assert video_frame_features(bad, every_ms=250, dim=8).count() == 0
    # content pin over integer-domain values only, order-insensitive:
    # each frame's 8x8 integer-luma thumbnail, re-decoded locally from
    # the same payloads; the Spark features must be its first `dim`
    # values L2-normalized
    payloads = dict(media.select("media_id", "payload").toLocalIterator())
    frames = {
        (mid, idx): px
        for mid in set(a["media_id"])
        for idx, _, px in decode_video_frames(bytes(payloads[mid]), every_ms=250)
    }
    digests = []
    for r in a.itertuples():
        thumb = resize_nearest(_luma(frames[r.media_id, r.frame_idx]), 8, 8).reshape(-1)
        head = thumb[:8].astype(np.float64)
        np.testing.assert_allclose(r.features, head / (np.linalg.norm(head) or 1), rtol=1e-6, atol=1e-7)
        digests.append(
            hashlib.sha256(
                f"{r.media_id}|{r.frame_idx}|{r.ts_ms}|{r.height}|{r.width}|{','.join(map(str, thumb))}".encode()
            ).hexdigest()
        )
    combined = hashlib.sha256("".join(sorted(digests)).encode()).hexdigest()
    assert (len(a), combined) == FRAME_FEATURES_PIN
