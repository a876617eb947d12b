"""ISO BMFF (MP4/MOV) CONTAINER parser in pure stdlib.

Codec-level frame decode for H.264/H.265/AAC genuinely needs an
external library and stays a documented stub in
``multimodal.decode_backend``; but the container — brand, movie
duration, per-track handler/codec fourcc/dimensions/sample counts —
is plain big-endian struct walking, and it is what a crawl pipeline
actually needs from video rows before any frame is ever decoded: real
durations feed ``multimodal.sample_video_frames``'s timestamp
fan-out, codec/track facts feed curation filters (drop audio-only,
drop >N-minute, keep h264), all without shipping the payload past the
metadata stage. For Motion-JPEG tracks the sample table below plus the
repo's own JPEG codec make frame decode REAL too — see
``multimodal.decode_video_frames``.

``parse_mp4`` walks the box tree (size/largesize/to-EOF forms,
versioned full boxes for mvhd/tkhd/mdhd) and returns movie + track
facts; ``with_samples=True`` additionally expands the full sample
table (stsz sizes x stsc sample-to-chunk runs x stco/co64 chunk
offsets x stts decode times) into per-sample ``(offset, size, ts_ms)``
byte ranges — the frame index a player seeks with. ``build_mp4``
constructs a minimal conformant fixture tree so tests roundtrip
without any real video file (the
``encode_png``/``encode_jpeg``/``encode_gif`` pattern); pass
``video_frames`` to embed real sample bytes in mdat with exact
stsz/stsc/stco tables.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta"}


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for sibling boxes."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", data[i : i + 4])
        btype = data[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            (size,) = struct.unpack(">Q", data[i + 8 : i + 16])
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr:
            raise ValueError(f"bad MP4 box size {size} for {btype!r}")
        yield btype, i + hdr, min(i + size, end)
        i += size


def _full_box(data: bytes, s: int) -> tuple[int, int]:
    """(version, body offset past version/flags)."""
    return data[s], s + 4


def _expand_samples(
    sizes: list[int],
    chunk_offsets: list[int],
    stsc: list[tuple[int, int]],
    stts: list[tuple[int, int]],
    timescale: int,
) -> list[tuple[int, int, int]]:
    """Sample tables -> [(byte_offset, byte_size, ts_ms)] in decode
    order. stsc entries are (first_chunk, samples_per_chunk) runs; a
    missing/empty stsc means one chunk holds every sample (the layout
    ``build_mp4`` emits for a single chunk)."""
    n = len(sizes)
    if not chunk_offsets or not n:
        return []
    if not stsc:
        stsc = [(1, n)]
    # per_chunk[c - 1] = samples in (1-based) chunk c; a chunk before
    # the first run's first_chunk holds none
    per_chunk = [0] * len(chunk_offsets)
    for idx, (first, per) in enumerate(stsc):
        last = stsc[idx + 1][0] - 1 if idx + 1 < len(stsc) else len(chunk_offsets)
        for c in range(max(first, 1), min(last, len(chunk_offsets)) + 1):
            per_chunk[c - 1] = per
    ts: list[int] = []
    t = 0
    for cnt, delta in stts:
        for _ in range(cnt):
            ts.append(t)
            t += delta
    samples: list[tuple[int, int, int]] = []
    si = 0
    for ci, coff in enumerate(chunk_offsets):
        off = coff
        for _ in range(per_chunk[ci]):
            if si >= n:
                return samples
            ms = ts[si] * 1000 // timescale if timescale and si < len(ts) else 0
            samples.append((off, sizes[si], ms))
            off += sizes[si]
            si += 1
    return samples


def parse_mp4(payload: bytes, with_samples: bool = False) -> dict:
    """MP4/MOV bytes -> {brand, timescale, duration_ms, tracks:[...]}.
    Each track: {track_id, kind ('video'/'audio'/4cc), codec,
    width, height, n_samples, duration_ms}; with ``with_samples=True``
    each track additionally carries ``samples`` =
    [(byte_offset, byte_size, ts_ms)] expanded from the
    stsz/stsc/stco/stts tables (co64 handled), which is everything a
    per-frame decoder needs to slice sample payloads out of mdat."""
    out: dict = {"brand": None, "timescale": None, "duration_ms": None, "tracks": []}
    saw_moov = False
    tables: dict[int, dict] = {}  # id(ctx) -> raw sample tables

    def walk(start: int, end: int, ctx: dict) -> None:
        nonlocal saw_moov
        for btype, s, e in _boxes(payload, start, end):
            if btype == b"ftyp":
                out["brand"] = payload[s : s + 4].decode("ascii", "replace")
            elif btype == b"moov":
                saw_moov = True
                walk(s, e, ctx)
            elif btype == b"mvhd":
                v, b = _full_box(payload, s)
                b += 16 if v == 1 else 8  # skip creation/modification times
                if v == 1:
                    ts, dur = struct.unpack(">IQ", payload[b : b + 12])
                else:
                    ts, dur = struct.unpack(">II", payload[b : b + 8])
                out["timescale"] = ts
                out["duration_ms"] = int(dur * 1000 // ts) if ts else None
            elif btype == b"trak":
                ctx = {"track_id": None, "kind": None, "codec": None,
                       "width": 0, "height": 0, "n_samples": 0, "duration_ms": None}
                if with_samples:
                    tables[id(ctx)] = {"sizes": [], "chunks": [], "stsc": [], "stts": [], "timescale": 0}
                out["tracks"].append(ctx)
                walk(s, e, ctx)
            elif btype == b"tkhd":
                v, b = _full_box(payload, s)
                b += 16 if v == 1 else 8
                (ctx["track_id"],) = struct.unpack(">I", payload[b : b + 4])
                # width/height: fixed 16.16 in the last 8 bytes
                wq, hq = struct.unpack(">II", payload[e - 8 : e])
                ctx["width"], ctx["height"] = wq >> 16, hq >> 16
            elif btype == b"mdhd":
                v, b = _full_box(payload, s)
                b += 16 if v == 1 else 8
                if v == 1:
                    ts, dur = struct.unpack(">IQ", payload[b : b + 12])
                else:
                    ts, dur = struct.unpack(">II", payload[b : b + 8])
                ctx["duration_ms"] = int(dur * 1000 // ts) if ts else None
                if with_samples and id(ctx) in tables:
                    tables[id(ctx)]["timescale"] = ts
            elif btype == b"hdlr":
                _v, b = _full_box(payload, s)
                handler = payload[b + 4 : b + 8]
                ctx["kind"] = {b"vide": "video", b"soun": "audio"}.get(
                    handler, handler.decode("ascii", "replace")
                )
            elif btype == b"stsd":
                _v, b = _full_box(payload, s)
                (n_entries,) = struct.unpack(">I", payload[b : b + 4])
                if n_entries:
                    ctx["codec"] = payload[b + 8 : b + 12].decode("ascii", "replace")
            elif btype == b"stts":
                _v, b = _full_box(payload, s)
                (n_entries,) = struct.unpack(">I", payload[b : b + 4])
                total = 0
                for k in range(n_entries):
                    cnt, delta = struct.unpack(">II", payload[b + 4 + 8 * k : b + 12 + 8 * k])
                    total += cnt
                    if with_samples and id(ctx) in tables:
                        tables[id(ctx)]["stts"].append((cnt, delta))
                ctx["n_samples"] = total
            elif with_samples and btype == b"stsz" and id(ctx) in tables:
                _v, b = _full_box(payload, s)
                uniform, cnt = struct.unpack(">II", payload[b : b + 8])
                if uniform:
                    tables[id(ctx)]["sizes"] = [uniform] * cnt
                else:
                    tables[id(ctx)]["sizes"] = [
                        struct.unpack(">I", payload[b + 8 + 4 * k : b + 12 + 4 * k])[0]
                        for k in range(cnt)
                    ]
            elif with_samples and btype == b"stsc" and id(ctx) in tables:
                _v, b = _full_box(payload, s)
                (n_entries,) = struct.unpack(">I", payload[b : b + 4])
                tables[id(ctx)]["stsc"] = [
                    struct.unpack(">II", payload[b + 4 + 12 * k : b + 12 + 12 * k])
                    for k in range(n_entries)
                ]
            elif with_samples and btype in (b"stco", b"co64") and id(ctx) in tables:
                _v, b = _full_box(payload, s)
                (n_entries,) = struct.unpack(">I", payload[b : b + 4])
                width, fmt = (8, ">Q") if btype == b"co64" else (4, ">I")
                tables[id(ctx)]["chunks"] = [
                    struct.unpack(fmt, payload[b + 4 + width * k : b + 4 + width * (k + 1)])[0]
                    for k in range(n_entries)
                ]
            elif btype in _CONTAINERS:
                walk(s, e, ctx)

    walk(0, len(payload), {})
    if not saw_moov:
        raise ValueError("not an MP4 (no moov box)")
    if with_samples:
        for ctx in out["tracks"]:
            t = tables.get(id(ctx), {})
            ctx["samples"] = _expand_samples(
                t.get("sizes", []), t.get("chunks", []), t.get("stsc", []),
                t.get("stts", []), t.get("timescale", 0),
            )
    return out


# --- fixture builder (roundtrip-test support) ------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def build_mp4(
    duration_ms: int = 4000,
    timescale: int = 1000,
    video: tuple[int, int, int] | None = (640, 360, 120),
    audio_samples: int = 0,
    brand: bytes = b"isom",
    video_codec: bytes = b"avc1",
    video_frames: list[bytes] | None = None,
    frames_per_chunk: int = 0,
) -> bytes:
    """Minimal conformant MP4 fixture: ftyp + moov(mvhd + tracks) +
    mdat. ``video`` = (width, height, n_frames) or None;
    ``audio_samples`` > 0 adds an audio track. When ``video_frames``
    is given, mdat holds the concatenated frame bytes and the video
    track gets EXACT per-sample stsz sizes + stsc/stco chunk tables
    (``frames_per_chunk`` > 0 splits the frames into that many-sample
    chunks, exercising stsc run-length expansion; 0 = one chunk), so
    ``parse_mp4(..., with_samples=True)`` slices back the original
    frame bytes — pass JPEG frames + ``video_codec=b'jpeg'`` for a
    real decodable Motion-JPEG file."""
    dur = duration_ms * timescale // 1000

    def full(btype: bytes, body: bytes, version: int = 0) -> bytes:
        return _box(btype, bytes([version, 0, 0, 0]) + body)

    def stbl(
        fourcc: bytes,
        n_samples: int,
        frame_sizes: list[int] | None = None,
        mdat_offset: int = 0,
    ) -> bytes:
        stsd = full(b"stsd", struct.pack(">I", 1) + _box(fourcc, b"\x00" * 70))
        stts = full(b"stts", struct.pack(">III", 1, n_samples, max(1, dur // max(1, n_samples))))
        if frame_sizes is None:
            stsz = full(b"stsz", struct.pack(">III", 256, n_samples, 0))
            stco = full(b"stco", struct.pack(">I", 0))
            return _box(b"stbl", stsd + stts + stsz + stco)
        stsz = full(
            b"stsz",
            struct.pack(">II", 0, len(frame_sizes))
            + b"".join(struct.pack(">I", s) for s in frame_sizes),
        )
        per = frames_per_chunk if frames_per_chunk > 0 else len(frame_sizes)
        offsets, stsc_runs = [], []
        off, i, chunk_no = mdat_offset, 0, 1
        while i < len(frame_sizes):
            take = min(per, len(frame_sizes) - i)
            offsets.append(off)
            if not stsc_runs or stsc_runs[-1][1] != take:
                stsc_runs.append((chunk_no, take))
            off += sum(frame_sizes[i : i + take])
            i += take
            chunk_no += 1
        stsc = full(
            b"stsc",
            struct.pack(">I", len(stsc_runs))
            + b"".join(struct.pack(">III", first, cnt, 1) for first, cnt in stsc_runs),
        )
        stco = full(
            b"stco",
            struct.pack(">I", len(offsets)) + b"".join(struct.pack(">I", o) for o in offsets),
        )
        return _box(b"stbl", stsd + stts + stsz + stsc + stco)

    def trak(
        track_id: int,
        handler: bytes,
        fourcc: bytes,
        w: int,
        h: int,
        n: int,
        frame_sizes: list[int] | None = None,
        mdat_offset: int = 0,
    ) -> bytes:
        tkhd = full(
            b"tkhd",
            struct.pack(">II", 0, 0)  # ctime, mtime
            + struct.pack(">I", track_id)
            + b"\x00" * 4
            + struct.pack(">I", dur)
            + b"\x00" * 8  # reserved
            + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, pad
            + b"\x00" * 36  # identity matrix slot (zeros are fine for parse)
            + struct.pack(">II", w << 16, h << 16),
            version=0,
        )
        mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, timescale, dur) + struct.pack(">HH", 0x55C4, 0))
        hdlr = full(b"hdlr", struct.pack(">I", 0) + handler + b"\x00" * 12 + b"parser\x00")
        minf = _box(b"minf", stbl(fourcc, n, frame_sizes, mdat_offset))
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    mvhd = full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, dur) + b"\x00" * 80,
        version=0,
    )
    frame_sizes = [len(f) for f in video_frames] if video_frames is not None else None

    def assemble(mdat_offset: int) -> bytes:
        traks = b""
        tid = 1
        if video is not None:
            w, h, n = video
            if video_frames is not None:
                n = len(video_frames)
            traks += trak(tid, b"vide", video_codec, w, h, n, frame_sizes, mdat_offset)
            tid += 1
        if audio_samples:
            traks += trak(tid, b"soun", b"mp4a", 0, 0, audio_samples)
        return _box(b"moov", mvhd + traks)

    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + b"isomiso2")
    mdat_body = b"".join(video_frames) if video_frames is not None else b"\x00" * 16
    # stco needs the absolute file offset of the first frame byte, which
    # depends on moov's own length — build moov twice (the entry widths
    # are fixed, so the length is offset-independent)
    moov_len = len(assemble(0))
    moov = assemble(len(ftyp) + moov_len + 8)
    assert len(moov) == moov_len
    return ftyp + moov + _box(b"mdat", mdat_body)
