"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample are Arrow-batched
pandas UDFs over ``mapInPandas``.

The codec is REAL for every format decodable with the stdlib + numpy:
baseline + progressive JPEG (Huffman + dequant + 8x8 IDCT, any chroma
subsampling, restart intervals — ``functions/jpeg.py``), PNG
(zlib-inflated IDAT + all five scanline filters; gray / RGB / palette
/ RGBA at bit depths 1-16, non-interlaced and Adam7), GIF
(variable-width LZW, local/global palettes, interlacing —
``functions/gif.py``), PPM/PGM (P5/P6, 8- and 16-bit), BMP
(uncompressed 24/32-bit), and PCM WAV (8/16/32-bit, any channel
count) all decode to numpy arrays in ``decode_backend`` — every common
crawled image format decodes with no external library — with
nearest-neighbor resize and deterministic content features (8x8
integer-luma thumbnail for images, windowed mean-|amplitude| envelope
for audio) computed from the decoded pixels/samples. Video frames
decode for REAL too when the track is Motion-JPEG
(``decode_video_frames``: container sample table -> JFIF slice -> own
JPEG codec); the one thing that still genuinely needs an external
codec library is inter-frame video (H.264/H.265/AAC — not present in
this container), which raises ``NotImplementedError`` from the same
dispatch points; plugging PIL/torchaudio/pyav in extends coverage
without touching any Spark plumbing.

Scale notes: binary payloads dominate row size — the ops below select
ONLY (id, payload) into the Python worker (column pruning is explicit),
and emit fixed-size features, so shuffle volume after extraction is
tiny. Batch size for Arrow transfer is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (session.py).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"P5", "image/x-portable-graymap"),
    (b"P6", "image/x-portable-pixmap"),
    (b"BM", "image/bmp"),
    (b"ID3", "audio/mpeg"),
    (b"\x00\x00\x00", "video/mp4"),
]


def sniff_mime(payload: bytes | None) -> str:
    if not payload:
        return "application/octet-stream"
    # WAV needs both the RIFF container magic and the WAVE form type —
    # a bare "RIFF" prefix could be any RIFF file (AVI, WebP, ...)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio/wav"
    for magic, mime in _MAGIC:
        if payload[: len(magic)] == magic:
            return mime
    return "application/octet-stream"


def _decode_pnm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) / PGM (P5) -> (h, w[, 3]) uint8 or uint16 array.
    Handles '#' comments and 16-bit (big-endian per the netpbm spec)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    # header = magic + width + height + maxval as whitespace-separated
    # tokens, with '#' comments running to end-of-line
    tokens: list[bytes] = []
    pos = 2
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PNM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(payload[pos:end])
            pos = end
    pos += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = (int(t) for t in tokens)
    channels = 3 if payload[:2] == b"P6" else 1
    dtype = ">u2" if maxval > 255 else np.uint8
    count = w * h * channels
    raster = np.frombuffer(payload, dtype=dtype, count=count, offset=pos)
    arr = raster.astype(np.uint16 if maxval > 255 else np.uint8)
    return arr.reshape(h, w, 3) if channels == 3 else arr.reshape(h, w)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP (BITMAPINFOHEADER+) -> (h, w, 3|4)
    uint8 in RGB[A] order, top-down regardless of on-disk row order."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"only uncompressed 24/32-bit BMP (got bpp={bpp}, compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3  # rows pad to 4-byte boundaries
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_offset)
    img = rows.reshape(h, stride)[:, : w * bytes_pp].reshape(h, w, bytes_pp)
    if bottom_up:
        img = img[::-1]
    # BGR[A] on disk -> RGB[A]
    return np.ascontiguousarray(img[..., [2, 1, 0, 3][: bytes_pp]])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type: 0 gray, 2 RGB, 3 palette index, 4 gray+A, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering: ``raw`` is h * (1 + stride) bytes
    of inflated IDAT (leading filter-type byte per row); returns the
    (h, stride) byte matrix. Filters none/up/sub vectorize (sub is a
    per-lane modular prefix sum); average/paeth need the decoded left
    neighbour, so those rows run a per-byte loop — fine for the
    thumbnail/feature path this backend serves."""
    data = np.frombuffer(raw, dtype=np.uint8)
    if data.size < h * (1 + stride):
        raise ValueError("truncated PNG raster")
    rows = data[: h * (1 + stride)].reshape(h, 1 + stride)
    ftypes, rows = rows[:, 0], rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = int(ftypes[y])
        row = rows[y].astype(np.int64)
        up = out[y - 1].astype(np.int64) if y else np.zeros(stride, dtype=np.int64)
        if ft == 0:
            cur = row
        elif ft == 2:  # up
            cur = row + up
        elif ft == 1:  # sub: per-bpp-lane modular prefix sum
            lanes = row.reshape(-1, bpp) if stride % bpp == 0 else None
            if lanes is not None:
                cur = (np.cumsum(lanes, axis=0) % 256).reshape(-1)
            else:  # stride not a multiple of bpp (sub-byte depths): loop
                cur = row.copy()
                for x in range(bpp, stride):
                    cur[x] = (cur[x] + cur[x - bpp]) % 256
        elif ft in (3, 4):
            cur = np.zeros(stride, dtype=np.int64)
            upl = out[y - 1].astype(np.int64) if y else np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(upl[x])
                if ft == 3:  # average
                    cur[x] = (int(row[x]) + (a + b) // 2) % 256
                else:  # paeth
                    c = int(out[y - 1, x - bpp]) if (y and x >= bpp) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (int(row[x]) + pr) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = (cur % 256).astype(np.uint8)
    return out


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass; each
# pass is an independently-filtered sub-image in the inflated stream
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_expand(mat: np.ndarray, hp: int, wpc: int, depth: int) -> np.ndarray:
    """Unfiltered byte matrix -> (hp, wpc) samples at the raw depth
    (wpc = pixels * channels); 16-bit stays uint16 big-endian-decoded,
    sub-8-bit unpacks ``depth`` bits big-endian per sample."""
    if depth == 16:
        return mat.view(">u2").astype(np.uint16)[:, :wpc]
    if depth == 8:
        return mat[:, :wpc]
    bits = np.unpackbits(mat, axis=1)[:, : wpc * depth]
    weights = 1 << np.arange(depth - 1, -1, -1)
    return (bits.reshape(hp, wpc, depth) * weights).sum(axis=2).astype(np.uint8)


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG -> numpy pixels, pure stdlib (zlib) + numpy. Supports color
    types 0/2/3/4/6 at bit depths 1/2/4/8/16 (as the spec permits per
    type), non-interlaced AND Adam7-interlaced (each of the 7 passes is
    an independently filtered sub-image; samples scatter to the pass
    grid). Returns (h, w) for gray, (h, w, 2) gray+alpha, (h, w, 3)
    RGB / palette-expanded, (h, w, 4) RGBA; dtype uint8, or uint16 for
    16-bit gray/RGB/RGBA. Sub-8-bit gray samples are rescaled to full
    8-bit range (x * 255 / maxval); palette indices are never rescaled
    (they index PLTE)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    ihdr = None
    idat = bytearray()
    plte = b""
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if comp != 0 or filt != 0:
        raise ValueError("non-standard PNG compression/filter method")
    channels = _PNG_CHANNELS.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    bpp = max(1, (channels * depth) // 8)
    raw = zlib.decompress(bytes(idat))
    dtype = np.uint16 if depth == 16 else np.uint8
    if interlace:
        out = np.zeros((h, w, channels), dtype=dtype)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            if w <= x0 or h <= y0:
                continue  # empty pass contributes zero bytes
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            stride = (wp * channels * depth + 7) // 8
            need = hp * (1 + stride)
            mat = _png_unfilter(raw[off : off + need], hp, stride, bpp)
            off += need
            s = _png_expand(mat, hp, wp * channels, depth)
            out[y0::dy, x0::dx] = s.reshape(hp, wp, channels)
        samples = out.reshape(h, w * channels)
    else:
        stride = (w * channels * depth + 7) // 8
        mat = _png_unfilter(raw, h, stride, bpp)
        samples = _png_expand(mat, h, w * channels, depth)
    if color == 0 and depth < 8:
        # rescale gray to 8-bit range; palette keeps raw indices
        samples = (samples.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    if color == 3:
        if not plte:
            raise ValueError("palette PNG without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        return pal[samples.reshape(h, w)]
    img = samples.reshape(h, w, channels)
    return img[..., 0] if channels == 1 else img


def _png_filter_row(row: np.ndarray, prev: np.ndarray, bpp: int, ft: int) -> np.ndarray:
    """Apply PNG filter ``ft`` to one raw scanline (encoder side)."""
    r = row.astype(np.int64)
    a = np.zeros_like(r)
    a[bpp:] = r[:-bpp]
    b = prev.astype(np.int64)
    c = np.zeros_like(r)
    c[bpp:] = b[:-bpp]
    if ft == 0:
        out = r
    elif ft == 1:
        out = r - a
    elif ft == 2:
        out = r - b
    elif ft == 3:
        out = r - (a + b) // 2
    else:
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        pr = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        out = r - pr
    return (out % 256).astype(np.uint8)


def encode_png(img: np.ndarray, filter_type: int = 0, interlace: bool = False) -> bytes:
    """(h, w) gray / (h, w, 2) gray+alpha / (h, w, 3) RGB / (h, w, 4)
    RGBA uint8 -> PNG bytes.
    ``filter_type`` applies one filter (0-4) to every scanline — the
    decoder must invert all five, so tests sweep it. ``interlace=True``
    emits Adam7: seven independently-filtered sub-images in pass
    order."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color, channels = 0, 1
    elif img.shape[2] == 2:
        color, channels = 4, 2
    elif img.shape[2] == 3:
        color, channels = 2, 3
    elif img.shape[2] == 4:
        color, channels = 6, 4
    else:
        raise ValueError("encode_png takes (h,w), (h,w,2), (h,w,3) or (h,w,4) uint8")
    h, w = img.shape[:2]
    bpp = channels
    px = img.reshape(h, w, channels)
    raw = bytearray()
    if interlace:
        passes = [
            px[y0::dy, x0::dx] for x0, y0, dx, dy in _ADAM7 if w > x0 and h > y0
        ]
    else:
        passes = [px]
    for sub in passes:
        hp, wp = sub.shape[:2]
        flat = np.ascontiguousarray(sub).reshape(hp, wp * channels)
        prev = np.zeros(wp * channels, dtype=np.uint8)
        for y in range(hp):
            raw.append(filter_type)
            raw.extend(_png_filter_row(flat[y], prev, bpp, filter_type).tobytes())
            prev = flat[y]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _decode_wav(payload: bytes) -> np.ndarray:
    """PCM WAV -> (n_frames, n_channels) int32 samples (8-bit unsigned
    recentred to signed, 16/32-bit verbatim)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        n_ch = wf.getnchannels()
        width = wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if width == 1:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
    elif width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    elif width == 4:
        samples = np.frombuffer(raw, dtype="<i4").astype(np.int32)
    else:
        raise NotImplementedError(f"unsupported PCM sample width {width}")
    return samples.reshape(-1, n_ch)


def decode_backend(payload: bytes, mime: str) -> np.ndarray:
    """Decode a media payload to a numpy array: (h, w[, c]) pixels for
    images, (n_frames, n_channels) int32 samples for audio. Real for
    every format stdlib + numpy can parse (PGM/PPM, uncompressed BMP,
    PNG, baseline + progressive JPEG, GIF, PCM WAV) — every common
    crawled image format decodes with no external library; video goes
    through :func:`decode_video_frames` instead (real for Motion-JPEG
    tracks; inter-frame codecs like H.264 are the one remaining
    genuinely-needs-a-library stub — plug PIL/torchaudio/pyav in
    here)."""
    if mime == "image/png":
        return _decode_png(payload)
    if mime == "image/jpeg":
        from ..functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if mime == "image/gif":
        from ..functions.gif import decode_gif

        return decode_gif(payload)
    if mime in ("image/x-portable-graymap", "image/x-portable-pixmap"):
        return _decode_pnm(payload)
    if mime == "image/bmp":
        return _decode_bmp(payload)
    if mime == "audio/wav":
        return _decode_wav(payload)
    raise NotImplementedError(
        f"media decoding for {mime} requires an image/audio backend not present "
        "in this container; plug PIL/torchaudio/pyav in here"
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w[, c]) array — pure integer
    index arithmetic, so bit-deterministic everywhere."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows][:, cols]


def _luma(img: np.ndarray) -> np.ndarray:
    """Integer ITU-R 601 luma — exact in int64, so cross-platform stable.
    Alpha is dropped: (h, w, 2) gray+alpha reads as gray, (h, w, 4) RGBA
    as RGB."""
    if img.ndim == 3 and img.shape[2] == 2:
        img = img[..., 0]
    if img.ndim == 2:
        return img.astype(np.int64)
    r, g, b = (img[..., i].astype(np.int64) for i in range(3))
    return (299 * r + 587 * g + 114 * b) // 1000


def real_features(decoded: np.ndarray, mime: str, dim: int) -> np.ndarray:
    """Deterministic content features from DECODED media: images -> the
    flattened 8x8 nearest-neighbor integer-luma thumbnail; audio -> the
    mean-|amplitude| envelope over ``dim`` equal windows (mono mix by
    integer channel average). L2-normalized float32 either way."""
    if mime.startswith("image/"):
        thumb = resize_nearest(_luma(decoded), 8, 8).reshape(-1).astype(np.float64)
        out = np.zeros(dim, dtype=np.float64)
        out[: min(dim, thumb.size)] = thumb[:dim]
    else:
        mono = decoded.astype(np.int64).sum(axis=1) // decoded.shape[1]
        n = mono.size
        out = np.zeros(dim, dtype=np.float64)
        if n:
            edges = (np.arange(dim + 1) * n) // dim
            mags = np.abs(mono)
            for i in range(dim):
                lo, hi = edges[i], edges[i + 1]
                if hi > lo:
                    out[i] = float(mags[lo:hi].sum()) / (hi - lo)
    norm = np.linalg.norm(out)
    return (out / norm if norm > 0 else out).astype(np.float32)


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in feature vector derived from payload bytes
    (so tests assert real dataflow end-to-end without a codec)."""
    if not payload:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload[: dim * 8], dtype=np.uint8).astype(np.float32)
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, len(arr))] = arr[:dim]
    n = np.linalg.norm(out)
    return out / n if n > 0 else out


def synthetic_media(spark, n: int, seed: int = 5, partitions: int | None = None) -> DataFrame:
    """Seeded fake media table exercising the binary path."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        # the audio magic carries the WAVE form type: sniff_mime requires
        # RIFF + WAVE (a bare RIFF prefix could be AVI/WebP)
        magics = [b"\x89PNG\r\n", b"RIFF\x00\x00\x00\x00WAVE", b"\x00\x00\x00\x18ftyp"]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.Generator(np.random.Philox(key=int(i) + seed))
                ki = int(i) % 3
                body = rng.integers(0, 256, size=int(rng.integers(64, 512)), dtype=np.uint8).tobytes()
                payload = magics[ki] + body
                rows.append(
                    (
                        int(i),
                        kinds[ki],
                        payload,
                        (sniff_mime(payload), int(rng.integers(16, 1024)), int(rng.integers(16, 1024)), int(rng.integers(0, 60000))),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) or (h, w) uint8 -> binary PPM (P6) / PGM (P5) bytes."""
    h, w = img.shape[:2]
    magic = b"P6" if img.ndim == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> uncompressed 24-bit bottom-up BMP bytes."""
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    raster = rows.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + info + raster


def encode_wav(samples: np.ndarray, framerate: int = 8000) -> bytes:
    """(n_frames, n_channels) int16 -> PCM WAV bytes (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def synthetic_decodable_media(spark, n: int, seed: int = 11, partitions: int | None = None) -> DataFrame:
    """Seeded media table whose payloads are REAL encoded files (PPM,
    PGM, BMP, WAV, PNG, JPEG, GIF round-robin — the PNG rows sweep all
    five scanline filters and alternate Adam7 interlacing, the JPEG
    rows alternate gray 4:4:4 / color 4:2:0 AND baseline/progressive
    SOF2, the GIF rows alternate interlacing) — exercises the actual
    codec end-to-end, unlike
    :func:`synthetic_media` whose bodies are opaque noise. Variants
    alternate on ``i // 8`` (the round-robin index), not ``i`` — within
    one format slot ``i mod 8`` is constant, so ``i % 2`` never
    alternates (the round-4 version of the JPEG/GIF rows had exactly
    that bug: every JPEG was gray baseline, every GIF interlaced)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.gif import encode_gif
        from ..functions.jpeg import encode_jpeg

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.Generator(np.random.Philox(key=int(i) + seed))
                ki = int(i) % 8
                if ki == 6:
                    slot = int(i) // 8
                    h, w = int(rng.integers(8, 24)), int(rng.integers(8, 24))
                    color = bool(slot % 2)
                    shape = (h, w, 3) if color else (h, w)
                    payload = encode_jpeg(
                        rng.integers(0, 256, size=shape, dtype=np.uint8),
                        quality=85,
                        subsample=color,
                        progressive=bool((slot // 2) % 2),
                    )
                    kind, dims, dur = "image", (w, h), 0
                elif ki == 7:
                    h, w = int(rng.integers(4, 24)), int(rng.integers(4, 24))
                    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
                    payload = encode_gif(
                        pal[rng.integers(0, 8, size=(h, w))],
                        interlace=bool((int(i) // 8) % 2),
                    )
                    kind, dims, dur = "image", (w, h), 0
                elif ki >= 4:
                    h, w = int(rng.integers(4, 24)), int(rng.integers(4, 24))
                    shape = (h, w, 3) if ki == 4 else (h, w)
                    payload = encode_png(
                        rng.integers(0, 256, size=shape, dtype=np.uint8),
                        filter_type=int(i) % 5,
                        interlace=bool((int(i) // 8) % 2),
                    )
                    kind, dims, dur = "image", (w, h), 0
                elif ki == 0:
                    h, w = int(rng.integers(4, 24)), int(rng.integers(4, 24))
                    payload = encode_ppm(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
                    kind, dims, dur = "image", (w, h), 0
                elif ki == 1:
                    h, w = int(rng.integers(4, 24)), int(rng.integers(4, 24))
                    payload = encode_ppm(rng.integers(0, 256, size=(h, w), dtype=np.uint8))
                    kind, dims, dur = "image", (w, h), 0
                elif ki == 2:
                    h, w = int(rng.integers(4, 24)), int(rng.integers(4, 24))
                    payload = encode_bmp(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
                    kind, dims, dur = "image", (w, h), 0
                else:
                    frames = int(rng.integers(64, 512))
                    payload = encode_wav(rng.integers(-4096, 4096, size=(frames, 2)).astype(np.int16))
                    kind, dims, dur = "audio", (0, 0), frames * 1000 // 8000
                rows.append((int(i), kind, payload, (sniff_mime(payload), dims[0], dims[1], dur)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(media: DataFrame, dim: int = 32, use_backend: bool = False) -> DataFrame:
    """(media_id, mime, n_bytes, features) — the decode/extract stage.
    ``use_backend=True`` decodes the payload for real (PNM/BMP/PNG/
    JPEG/GIF/WAV) and derives content features from the pixels/
    samples; the default keeps the byte-derived deterministic fake so
    the distributed plumbing is testable independently of formats.

    Robustness: a crawled corpus CONTAINS corrupt payloads, and one
    truncated image must not kill a 100-TB task — per-row decode
    failures (including the documented inter-frame-video
    ``NotImplementedError`` stub) fall back to a zero feature vector
    for that row; the mime and byte count still flow, so the failure
    set is queryable downstream (features = all-zeros)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "mime": [], "n_bytes": [], "features": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                mime = sniff_mime(payload)
                if use_backend:
                    try:
                        feats = real_features(decode_backend(payload, mime), mime, dim)
                    except Exception:
                        # corrupt/truncated/stub-format payload: zero
                        # vector, never a task failure
                        feats = np.zeros(dim, dtype=np.float32)
                else:
                    feats = _fake_features(payload, dim)
                out["media_id"].append(int(mid))
                out["mime"].append(mime)
                out["n_bytes"].append(len(payload))
                out["features"].append(feats.astype(np.float32))
            yield pd.DataFrame(out)

    pruned = media.select("media_id", "payload")  # explicit column pruning
    return pruned.mapInPandas(fn, FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """(media_id, frame_ts_ms) — frame-sampling plan for video rows:
    the timestamp fan-out is NATIVE (sequence + explode over metadata);
    only the subsequent per-frame decode (:func:`video_frame_features`,
    real for Motion-JPEG) needs the payload. This ordering keeps the
    binary column out of the explode."""
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.duration_ms").alias("duration_ms")
    )
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("container_duration_ms", T.LongType()),
        T.StructField("track_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("track_duration_ms", T.LongType()),
    ]
)


def video_metadata(media: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """REAL MP4/MOV container metadata, one row per TRACK: brand,
    durations, handler kind, codec fourcc, dimensions, sample counts —
    parsed from the box tree by ``functions/mp4.py`` with no external
    library (frame DECODE stays the documented env stub; the container
    facts are what curation filters and the ``sample_video_frames``
    fan-out actually consume). Non-MP4 or unparseable payloads yield
    no rows. Arrow-batched mapInPandas over the column-pruned
    (id, payload) projection."""
    from ..functions.mp4 import parse_mp4

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VIDEO_META_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload) if payload is not None else b""
                if sniff_mime(payload) != "video/mp4":
                    continue
                try:
                    meta = parse_mp4(payload)
                except (ValueError, struct.error):
                    continue
                for t in meta["tracks"]:
                    rows.append(
                        (
                            int(mid),
                            meta["brand"],
                            meta["duration_ms"],
                            t["track_id"],
                            t["kind"],
                            t["codec"],
                            t["width"],
                            t["height"],
                            t["n_samples"],
                            t["duration_ms"],
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    pruned = media.select(id_col, payload_col)
    return pruned.mapInPandas(fn, VIDEO_META_SCHEMA)


# Motion-JPEG sample-entry fourccs (QuickTime photo-JPEG + the common
# MJPEG variants): every sample is a standalone JFIF image, so the
# repo's own JPEG codec decodes frames with no external library.
_MJPEG_CODECS = {"jpeg", "mjpa", "mjpb", "mjpg", "MJPG", "dmb1"}


def decode_video_frames(
    payload: bytes, every_ms: int = 1000, max_frames: int = 64
) -> Iterator[tuple[int, int, np.ndarray]]:
    """REAL MP4 frame decode for Motion-JPEG tracks: yields
    (sample_idx, ts_ms, pixels) for the first MJPEG video track,
    sampled on an ``every_ms`` grid (the first sample at-or-after each
    multiple of ``every_ms``), at most ``max_frames`` frames. The
    sample table (``parse_mp4(..., with_samples=True)``) gives exact
    byte ranges into mdat; each range is a standalone JFIF image
    decoded by ``functions/jpeg.py``. Tracks in any OTHER codec
    (H.264/H.265/...) raise ``NotImplementedError`` — inter-frame
    codecs genuinely need an external library; this is the narrowed
    residue of the former whole-format stub."""
    from ..functions.jpeg import decode_jpeg
    from ..functions.mp4 import parse_mp4

    if every_ms < 1:
        raise ValueError(f"every_ms must be >= 1 (got {every_ms})")
    meta = parse_mp4(payload, with_samples=True)
    track = next(
        (
            t
            for t in meta["tracks"]
            if t["kind"] == "video" and t["codec"] in _MJPEG_CODECS and t["samples"]
        ),
        None,
    )
    if track is None:
        codecs = [t["codec"] for t in meta["tracks"] if t["kind"] == "video"]
        raise NotImplementedError(
            f"no Motion-JPEG video track (found {codecs}); inter-frame codecs "
            "need an external library — plug pyav in here"
        )
    next_target = 0
    emitted = 0
    for idx, (off, size, ts) in enumerate(track["samples"]):
        if ts < next_target:
            continue
        yield idx, ts, decode_jpeg(payload[off : off + size])
        next_target = (ts // every_ms + 1) * every_ms
        emitted += 1
        if emitted >= max_frames:
            return


FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def video_frame_features(
    media: DataFrame, every_ms: int = 1000, dim: int = 32, max_frames: int = 64
) -> DataFrame:
    """(media_id, frame_idx, ts_ms, height, width, features) — the
    per-frame decode stage ``sample_video_frames`` plans for, REAL for
    Motion-JPEG tracks (container sample table -> JFIF slice -> own
    JPEG codec -> 8x8 luma-thumbnail features, all stdlib+numpy).
    Video rows in codecs needing an external library, and corrupt
    payloads, contribute zero rows — a queryable absence, never a task
    failure (anti-join against this output to find them). Arrow-batched
    mapInPandas over the column-pruned (id, payload) projection of
    kind='video' rows only; ``max_frames`` bounds the per-row fan-out
    so one pathological 10-hour video cannot skew a task."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FRAME_FEATURES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    for idx, ts, px in decode_video_frames(payload, every_ms, max_frames):
                        feats = real_features(px, "image/jpeg", dim)
                        rows.append(
                            (int(mid), idx, ts, int(px.shape[0]), int(px.shape[1]), feats)
                        )
                except Exception:
                    continue  # non-MJPEG codec / corrupt container
            yield pd.DataFrame(rows, columns=cols)

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(fn, FRAME_FEATURES_SCHEMA)


def synthetic_mjpeg_media(
    spark,
    n: int,
    seed: int = 17,
    frames_per_video: int = 6,
    fps: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Seeded video table whose payloads are REAL Motion-JPEG MP4s
    (each frame a genuine JFIF image from ``encode_jpeg``, embedded
    with exact stsz/stsc/stco tables by ``build_mp4``). Rows alternate
    on ``i % 3``: 0/1 are MJPEG (gray 4:4:4 / color 4:2:0, chunk
    layouts one-chunk / two-per-chunk), 2 is an avc1 container (the
    metadata parses; frame decode is correctly absent) — so one table
    exercises the decodable path, the stsc expansion, and the
    queryable-absence contract at once."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.jpeg import encode_jpeg
        from ..functions.mp4 import build_mp4

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.Generator(np.random.Philox(key=i + seed))
                h, w = int(rng.integers(8, 24)), int(rng.integers(8, 24))
                dur = frames_per_video * 1000 // fps
                if i % 3 == 2:
                    payload = build_mp4(duration_ms=dur, video=(w, h, frames_per_video))
                else:
                    color = i % 3 == 1
                    shape = (h, w, 3) if color else (h, w)
                    frames = [
                        encode_jpeg(
                            rng.integers(0, 256, size=shape, dtype=np.uint8),
                            quality=85,
                            subsample=color,
                        )
                        for _ in range(frames_per_video)
                    ]
                    payload = build_mp4(
                        duration_ms=dur,
                        video=(w, h, 0),
                        video_codec=b"jpeg",
                        video_frames=frames,
                        frames_per_chunk=2 if color else 0,
                    )
                rows.append((i, "video", payload, ("video/mp4", w, h, dur)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)


def image_dhash(img: np.ndarray) -> int:
    """64-bit difference hash (dHash): 8x9 integer-luma thumbnail, one
    bit per horizontal neighbour pair (left < right), row-major MSB
    first. Pure integer arithmetic end-to-end (nearest-neighbour
    resize + ITU-601 integer luma), so the hash is bit-identical on
    every platform. Returned as a SIGNED 64-bit value so it fits a
    Spark/DuckDB BIGINT column."""
    g = resize_nearest(_luma(img), 8, 9)
    bits = (g[:, :-1] < g[:, 1:]).reshape(-1)
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= (1 << 63) else h


IMAGE_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def _media_hashes(
    media: DataFrame, mime_prefix: str, hash_fn, id_col: str, payload_col: str
) -> DataFrame:
    """Shared decode->hash scaffold for the perceptual dedup family:
    (media_id, mime, dhash) for every payload whose sniffed mime
    matches ``mime_prefix`` and that ``decode_backend`` handles.
    Non-matching and undecodable payloads contribute no row — a
    corrupt file must cost its own hash, not the task. Column-pruned
    mapInPandas, zero shuffle."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mimes, hashes = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                data = bytes(payload)
                mime = sniff_mime(data)
                if not mime.startswith(mime_prefix):
                    continue
                try:
                    h = hash_fn(decode_backend(data, mime))
                except Exception:
                    continue
                ids.append(int(mid))
                mimes.append(mime)
                hashes.append(h)
            yield pd.DataFrame({"media_id": ids, "mime": mimes, "dhash": hashes})

    return media.select(id_col, payload_col).mapInPandas(fn, IMAGE_HASH_SCHEMA)


def image_hashes(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(media_id, mime, dhash) for every payload the repo's own codecs
    decode to pixels (PNM/BMP/PNG/JPEG/GIF)."""
    return _media_hashes(media, "image/", image_dhash, id_col, payload_col)


def image_near_duplicates(
    media: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual image near-dup over raw payloads: decode with the
    repo's own codecs -> 64-bit dHash -> the shared pigeonhole
    banding engine (``dedup.hamming_near_duplicates``) -> exact
    bit_count verify. The same image re-encoded through a different
    codec (PNG vs PPM vs BMP) hashes identically (lossless paths) and
    a JPEG re-encode lands within a few bits — the image analogue of
    the text simhash family, with the same scale shape: one decode
    pass, band equi-join, no pairwise scan."""
    from .dedup import hamming_near_duplicates

    return hamming_near_duplicates(
        image_hashes(media, id_col, payload_col),
        max_hamming,
        id_col="media_id",
        hash_col="dhash",
    )


def audio_envelope_hash(samples: np.ndarray) -> int:
    """64-bit audio fingerprint: mono-mix (integer channel average),
    mean-|amplitude| envelope over 65 equal windows, one bit per
    adjacent-window increase — the audio analogue of
    :func:`image_dhash` (sign-of-delta is invariant to volume scaling
    and PCM re-encoding, the common crawl-duplicate transforms).
    Integer end-to-end except the per-window means, which compare —
    not subtract — so ties resolve identically everywhere. Signed
    64-bit for BIGINT storage."""
    mono = samples.astype(np.int64)
    if mono.ndim == 2:
        mono = mono.sum(axis=1) // mono.shape[1]
    n = mono.size
    windows = 65
    env = np.zeros(windows, dtype=np.float64)
    if n:
        edges = (np.arange(windows + 1) * n) // windows
        mags = np.abs(mono)
        for i in range(windows):
            lo, hi = edges[i], edges[i + 1]
            if hi > lo:
                env[i] = float(mags[lo:hi].sum()) / (hi - lo)
    bits = env[:-1] < env[1:]
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= (1 << 63) else h


def audio_hashes(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(media_id, mime, dhash) for decodable audio payloads (PCM WAV)."""
    return _media_hashes(media, "audio/", audio_envelope_hash, id_col, payload_col)


def audio_near_duplicates(
    media: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Volume-invariant audio near-dup: decode -> envelope-delta hash
    -> the shared pigeonhole banding (``dedup.hamming_near_duplicates``)
    -> exact bit_count verify. Same scale shape as the image/text
    families: one decode pass, band equi-join, no pairwise scan."""
    from .dedup import hamming_near_duplicates

    return hamming_near_duplicates(
        audio_hashes(media, id_col, payload_col),
        max_hamming,
        id_col="media_id",
        hash_col="dhash",
    )
