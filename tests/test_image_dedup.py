"""Perceptual image near-dup: dHash codec-invariance + banded pairs."""

import numpy as np
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.operators.multimodal import (
    encode_bmp,
    encode_png,
    encode_ppm,
    image_dhash,
    image_hashes,
    image_near_duplicates,
)


def _gradient(h=32, w=32, phase=0):
    """Smooth deterministic RGB gradient — robust under JPEG loss."""
    y, x = np.mgrid[0:h, 0:w]
    r = ((x * 8 + phase) % 256).astype(np.uint8)
    g = ((y * 8 + 2 * phase) % 256).astype(np.uint8)
    b = ((x * 4 + y * 4) % 256).astype(np.uint8)
    return np.dstack([r, g, b])


def test_dhash_codec_invariant_and_discriminative():
    img = _gradient()
    h_ppm = image_dhash(img)
    assert isinstance(h_ppm, int) and -(1 << 63) <= h_ppm < (1 << 63)
    # lossless containers decode to the same pixels -> identical hash
    from coap_rfc_knowledge_graph_spark.operators.multimodal import decode_backend, sniff_mime

    for enc in (encode_ppm, encode_bmp, encode_png):
        payload = enc(img)
        decoded = decode_backend(payload, sniff_mime(payload))
        assert image_dhash(decoded) == h_ppm, enc.__name__
    # a structurally different image (noise, not a monotonic gradient)
    # lands far away
    rng = np.random.Generator(np.random.Philox(key=3))
    other = image_dhash(rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8))
    assert bin((h_ppm ^ other) & ((1 << 64) - 1)).count("1") > 8


def test_dhash_survives_jpeg_reencode():
    from coap_rfc_knowledge_graph_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = _gradient()
    ref = image_dhash(img)
    redone = image_dhash(decode_jpeg(encode_jpeg(img, quality=90, subsample=False)))
    assert bin((ref ^ redone) & ((1 << 64) - 1)).count("1") <= 4


def test_image_near_duplicates_spark(spark):
    """Same pixels through three lossless codecs cluster (hamming 0);
    distinct gradients do not; audio/corrupt payloads are skipped."""
    imgs = {0: _gradient(phase=0), 10: _gradient(phase=300), 20: _gradient(phase=700)}
    rows = []
    for base, img in imgs.items():
        rows.append((base, bytearray(encode_ppm(img))))
        rows.append((base + 1, bytearray(encode_png(img))))
        rows.append((base + 2, bytearray(encode_bmp(img))))
    rows.append((90, bytearray(b"\x1f\x8bnot an image")))
    rows.append((91, None))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = {r.media_id: r.dhash for r in image_hashes(media).collect()}
    assert set(hashes) == {0, 1, 2, 10, 11, 12, 20, 21, 22}
    pairs = image_near_duplicates(media, max_hamming=4).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    expect = {(b, b + i) for b in imgs for i in (1, 2)} | {(b + 1, b + 2) for b in imgs}
    assert got == expect
    assert all(r.hamming == 0 for r in pairs)


def test_image_hashes_gray_alpha_png_and_unhashable_row(spark):
    """A gray+alpha PNG (color type 4, decoded (h, w, 2)) hashes as its
    gray plane; a PNG that decodes but cannot be hashed (0x0 pixels)
    costs only its own row, not the task."""
    rng = np.random.Generator(np.random.Philox(key=5))
    gray, alpha = rng.integers(0, 256, size=(2, 24, 24), dtype=np.uint8)
    gray_alpha = np.dstack([gray, alpha])
    rows = [
        (0, bytearray(encode_png(gray_alpha))),
        (1, bytearray(encode_png(np.zeros((0, 0), dtype=np.uint8)))),
        (2, bytearray(encode_png(gray))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary").coalesce(1)
    hashes = {r.media_id: r.dhash for r in image_hashes(media).collect()}
    assert hashes == {0: image_dhash(gray), 2: image_dhash(gray)}


def test_contract_image_near_dup_planted_twins(spark):
    """The driver-contract entry: every planted PPM->PNG re-encode twin
    comes back at hamming 0 (8 PPM rows in the 64-row seeded table),
    and twin ids are original + 1_000_000."""
    import __spark_entry__ as e

    rows = e.queries()["image_near_dup"](spark, "/root/testdata/sf0.001").collect()
    twins = {(r.doc_a, r.doc_b) for r in rows if r.doc_b == r.doc_a + 1_000_000}
    assert len(twins) == 8 and all(r.hamming == 0 for r in rows)


def test_audio_hash_volume_invariant_and_near_dup(spark):
    from coap_rfc_knowledge_graph_spark.operators.multimodal import (
        audio_envelope_hash,
        audio_near_duplicates,
        encode_wav,
    )

    rng = np.random.Generator(np.random.Philox(key=9))
    base = (rng.integers(-2000, 2000, size=(4000, 2))
            * np.linspace(0.2, 1.8, 4000)[:, None]).astype(np.int16)
    h = audio_envelope_hash(base)
    # halving the volume preserves every envelope delta sign
    assert audio_envelope_hash((base // 2).astype(np.int16)) == h
    other = rng.integers(-2000, 2000, size=(4000, 2)).astype(np.int16)
    assert bin((h ^ audio_envelope_hash(other)) & ((1 << 64) - 1)).count("1") > 8

    rows = [
        (0, bytearray(encode_wav(base))),
        (1, bytearray(encode_wav((base // 2).astype(np.int16)))),  # quieter twin
        (2, bytearray(encode_wav(other))),
        (3, bytearray(b"not audio")),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = audio_near_duplicates(media, max_hamming=4).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(0, 1)}
    assert pairs[0].hamming == 0


def test_contract_audio_near_dup_planted_twins(spark):
    import __spark_entry__ as e

    rows = e.queries()["audio_near_dup"](spark, "/root/testdata/sf0.001").collect()
    twins = {(r.doc_a, r.doc_b) for r in rows if r.doc_b == r.doc_a + 1_000_000}
    assert len(twins) == 8 and all(r.hamming == 0 for r in rows)
