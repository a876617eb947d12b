"""Baseline + progressive JPEG (ITU-T T.81 / JFIF) codec, pure
stdlib + numpy.

Closes the last in-sandbox codec gap in ``multimodal.decode_backend``
(VERDICT r4 "What's missing" #3): JPEG is the dominant crawled image
format, and decoding it needs no external library — baseline JFIF is
Huffman coding + dequantization + an 8x8 inverse DCT, all expressible
with ``struct`` and numpy.

Decoder scope (``decode_jpeg``): baseline sequential DCT (SOF0) AND
progressive DCT (SOF2 — spectral selection, successive approximation,
DC/AC first and refinement scans, EOB runs), 8-bit precision, 1 or 3
components, any h/v sampling factors (4:4:4, 4:2:2, 4:2:0, ...),
arbitrary DHT/DQT tables read from the stream, multi-scan streams,
restart intervals (DRI + RSTn), byte-stuffing. Arithmetic coding and
12-bit precision raise ``NotImplementedError`` — both are rare in web
corpora (unsupported by most browsers, so crawled sites avoid them).

Coefficients accumulate per scan in integer block arrays; the IDCT +
upsample + color convert run once, at EOI, vectorized over all blocks
(a single einsum per component instead of a Python loop per block).

Encoder scope (``encode_jpeg``): exists so the decoder is testable by
roundtrip without any external reference image (the ``encode_png``
pattern, ``multimodal.py``). Gray or RGB input, 4:4:4 or 4:2:0,
IJG-style quality scaling of the Annex-K quantization tables, and
``progressive=True`` emitting a real SOF2 scan script (interleaved DC
first/refine at Al=1, per-component AC first/refine with cross-block
EOB runs) whose decoded pixels are bit-identical to the baseline
encoding of the same image — the quantized coefficients are the same,
only the scan order differs, so the roundtrip test is self-validating.
The Huffman tables it WRITES are deliberately uniform-length canonical
codes (all 162 AC symbols at 9 bits, all 12 DC symbols at 4 bits):
valid prefix codes any conformant decoder accepts, chosen over the
Annex-K optimized tables because correctness here matters and
compression ratio does not.

The DCT basis is the orthonormal 8x8 DCT-II matrix, which is exactly
T.81's FDCT/IDCT definition; float64 throughout, rounded once at the
end. The encoder snaps each quantized coefficient to 9 decimals before
rounding, so an exact tie rounds the same way whatever summation order
the host's BLAS uses.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order: index i of the scan -> (row, col) in the 8x8 block
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex-K luminance / chrominance quantization tables (natural order)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32,
    dtype=np.int64,
)

# orthonormal 8x8 DCT-II basis: T @ block @ T.T is T.81's FDCT
_T = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(1.0 / 8.0) if _u == 0 else np.sqrt(2.0 / 8.0)
    for _x in range(8):
        _T[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _T @ block @ _T.T


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """DHT (bits-per-length, values) -> {(length, code): symbol} via the
    canonical code construction of T.81 Annex C."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at (and exposes) any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                # pad with zeros past the end / a marker (spec: the last
                # byte's remaining bits are padding 1s; zeros are fine
                # because a conformant stream never reads them as data)
                self.buf = (self.buf << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:  # stuffed 0xFF data byte
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # restart marker: caller handles
                    self.marker = nxt
                    continue
                else:  # real marker (EOI, next SOS, ...): stop
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.buf = ((self.buf << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Discard padding bits and realign past the next RSTn marker.
        Called exactly at restart-interval boundaries, where the next
        marker in the stream IS the RST (any bytes before it are the
        encoder's byte-alignment padding; stuffed 0xFF data bytes are
        always followed by 0x00, so they can't false-match)."""
        p = self.pos
        while p + 1 < len(self.data) and not (
            self.data[p] == 0xFF and 0xD0 <= self.data[p + 1] <= 0xD7
        ):
            p += 1
        if p + 1 >= len(self.data):
            raise ValueError("expected restart marker in entropy stream")
        self.pos = p + 2
        self.buf = 0
        self.nbits = 0
        self.marker = None


def _decode_huffman(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG entropy stream")


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude to its signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block_baseline(
    reader: _BitReader,
    coef: np.ndarray,
    tdc: dict,
    tac: dict,
    pred: list[int],
    ci: int,
) -> None:
    """One sequential-DCT block: DC diff + AC run-length into ``coef``
    (a (64,) zig-zag-order view into the component's block store)."""
    s = _decode_huffman(reader, tdc)
    diff = _extend(reader.receive(s), s) if s else 0
    pred[ci] += diff
    coef[0] = pred[ci]
    k = 1
    while k < 64:
        rs = _decode_huffman(reader, tac)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC coefficient overrun")
        coef[k] = _extend(reader.receive(s), s)
        k += 1


def _decode_block_ac_first(
    reader: _BitReader,
    coef: np.ndarray,
    tac: dict,
    ss: int,
    se: int,
    al: int,
    eobrun: list[int],
) -> None:
    """Progressive AC first scan (Ah=0), one block: T.81 G.2 run-length
    with EOBn run markers spanning blocks (``eobrun`` is scan state)."""
    if eobrun[0] > 0:
        eobrun[0] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huffman(reader, tac)
        r, s = rs >> 4, rs & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient overrun")
            coef[k] = _extend(reader.receive(s), s) << al
            k += 1
        else:
            if r != 15:  # EOBn: run of 2^r (+ r appended bits) blocks
                run = 1 << r
                if r:
                    run += reader.receive(r)
                eobrun[0] = run - 1  # this block is the first member
                return
            k += 16  # ZRL
    return


def _refine_nonzero(reader: _BitReader, coef: np.ndarray, k: int, p1: int) -> None:
    """Correction bit for a coefficient already nonzero in prior scans:
    a 1-bit makes the magnitude's next bit 1 (moving away from zero)."""
    if reader.read_bit():
        if (int(coef[k]) & p1) == 0:
            coef[k] += p1 if coef[k] >= 0 else -p1


def _decode_block_ac_refine(
    reader: _BitReader,
    coef: np.ndarray,
    tac: dict,
    ss: int,
    se: int,
    al: int,
    eobrun: list[int],
) -> None:
    """Progressive AC refinement scan (Ah=Al+1), one block: newly
    nonzero coefficients arrive as run-length symbols with a sign bit;
    already-nonzero ones read one correction bit each, interleaved in
    coefficient order (T.81 G.7 / the libjpeg-compatible walk)."""
    p1 = 1 << al
    k = ss
    if eobrun[0] == 0:
        while k <= se:
            rs = _decode_huffman(reader, tac)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s:
                # s is 1 by construction of the scan: one new bit plane
                newval = p1 if reader.read_bit() else -p1
            elif r != 15:
                run = 1 << r
                if r:
                    run += reader.receive(r)
                eobrun[0] = run
                break  # remainder of the band handled below
            # else ZRL: r == 15 -> skip 16 zero-history coefficients
            while k <= se:
                if coef[k] != 0:
                    _refine_nonzero(reader, coef, k, p1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval:
                coef[k] = newval
            k += 1
    if eobrun[0] > 0:
        while k <= se:
            if coef[k] != 0:
                _refine_nonzero(reader, coef, k, p1)
            k += 1
        eobrun[0] -= 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JFIF bytes -> uint8
    pixels: (h, w) for grayscale, (h, w, 3) RGB for YCbCr. See module
    docstring for scope."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, [(cid, hi, vi, tq), ...], progressive)
    store: list[np.ndarray] | None = None  # per component (bh, bw, 64)
    scans_done = 0
    restart_interval = 0
    i = 2
    n = len(payload)
    while i < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i : i + 2])
        seg = payload[i + 2 : i + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq:
                    raise NotImplementedError("16-bit quantization tables not supported")
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ] = np.frombuffer(seg[p : p + 64], dtype=np.uint8)
                qt[tq] = tab.reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                (huff_ac if tc else huff_dc)[th] = _build_decode_table(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(
                ">H", seg[3:5]
            )[0], seg[5]
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} not supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps, marker == 0xC2)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only sequential (SOF0/SOF1) and progressive (SOF2) Huffman JPEG "
                f"are supported, got SOF marker 0x{marker:02x}"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS: decode one scan into the block store
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            h, w, comps, progressive = frame
            ns = seg[0]
            scan = []  # (comp index, dc table id, ac table id)
            for c in range(ns):
                cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                ci = next(k for k, cc in enumerate(comps) if cc[0] == cs)
                scan.append((ci, tables >> 4, tables & 0x0F))
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            elif ss > 0 and ns != 1:
                raise ValueError("progressive AC scans must be non-interleaved (T.81 B.2.3)")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            if store is None:
                store = [
                    np.zeros((mcus_y * c[2], mcus_x * c[1], 64), dtype=np.int64)
                    for c in comps
                ]
            reader = _BitReader(payload, i + seglen)
            pred = [0] * len(comps)
            eobrun = [0]  # EOB-run state spans blocks within an AC scan

            if ns == 1:
                # non-interleaved: raster over this component's own
                # block grid (T.81 A.2.2 — smaller than the MCU-padded
                # store for subsampled/odd-size components)
                ci, tdc_id, tac_id = scan[0]
                _, hi, vi, _tq = comps[ci]
                cw = -(-(w * hi) // hmax)  # component sample dims
                ch = -(-(h * vi) // vmax)
                bw = -(-cw // 8)
                bh = -(-ch // 8)
                units = [(ci, tdc_id, tac_id, by, bx) for by in range(bh) for bx in range(bw)]
            else:
                units = []
                for mcu in range(mcus_x * mcus_y):
                    my, mx = divmod(mcu, mcus_x)
                    for ci, tdc_id, tac_id in scan:
                        _, hi, vi, _ = comps[ci]
                        for by in range(vi):
                            for bx in range(hi):
                                units.append((ci, tdc_id, tac_id, my * vi + by, mx * hi + bx))
            per_mcu = 1 if ns == 1 else sum(comps[c][1] * comps[c][2] for c, _, _ in scan)

            for u, (ci, tdc_id, tac_id, by, bx) in enumerate(units):
                if restart_interval and u and u % (restart_interval * per_mcu) == 0:
                    reader.restart()
                    pred = [0] * len(comps)
                    eobrun = [0]
                coef = store[ci][by, bx]
                if not progressive:
                    _decode_block_baseline(
                        reader, coef, huff_dc[tdc_id], huff_ac[tac_id], pred, ci
                    )
                elif ss == 0:  # DC scan (Se must be 0)
                    if ah == 0:
                        s = _decode_huffman(reader, huff_dc[tdc_id])
                        diff = _extend(reader.receive(s), s) if s else 0
                        pred[ci] += diff
                        coef[0] = pred[ci] << al
                    else:  # DC refinement: one raw bit per block
                        if reader.read_bit():
                            coef[0] |= 1 << al
                elif ah == 0:
                    _decode_block_ac_first(
                        reader, coef, huff_ac[tac_id], ss, se, al, eobrun
                    )
                else:
                    _decode_block_ac_refine(
                        reader, coef, huff_ac[tac_id], ss, se, al, eobrun
                    )
            scans_done += 1
            # resume segment parsing at the marker that ended the scan
            p = reader.pos
            while p + 1 < n and not (
                payload[p] == 0xFF
                and payload[p + 1] != 0x00
                and not (0xD0 <= payload[p + 1] <= 0xD7)
            ):
                p += 1
            i = p
            continue
        i += seglen

    if frame is None or store is None or scans_done == 0:
        raise ValueError("JPEG stream ended without a scan")
    h, w, comps, _ = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    out_planes = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        arr = store[ci]  # (bh, bw, 64) zig-zag coefficients
        bh, bw = arr.shape[:2]
        nat = np.zeros((bh, bw, 64), dtype=np.float64)
        nat[..., _ZZ] = arr  # de-zig-zag all blocks at once
        deq = nat.reshape(bh, bw, 8, 8) * qt[tq][None, None]
        # IDCT every block in one einsum: T.T @ B @ T
        pix = np.einsum("ij,abjk,kl->abil", _T.T, deq, _T)
        plane = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        p = np.repeat(np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1)
        out_planes.append(p[:h, :w] + 128.0)
    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    if len(out_planes) != 3:
        raise NotImplementedError(f"{len(out_planes)}-component JPEG not supported")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# --- encoder (roundtrip-test support) -------------------------------------


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_QT_LUMA, _QT_CHROMA):
        q = (base * scale + 50) // 100
        out.append(np.clip(q, 1, 255).reshape(8, 8))
    return out[0], out[1]


# encoder Huffman specs: uniform-length canonical codes (see module
# docstring). DC: 12 symbols (sizes 0..11) at 4 bits; AC: all 162
# baseline symbols at 9 bits. Progressive AC scans additionally need
# the EOBn symbols (r<<4 for r in 1..14 — EOB runs longer than one
# block), so the progressive table carries all 176 symbols at 9 bits
# (Kraft sum 176/512 < 1: still a valid canonical code).
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_VALS = list(range(12))
_ENC_AC_BITS = [0] * 8 + [162] + [0] * 7
_ENC_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_AC_PROG_BITS = [0] * 8 + [176] + [0] * 7
_ENC_AC_PROG_VALS = [r << 4 for r in range(15)] + [0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    dec = _build_decode_table(bits, vals)
    return {sym: (length, code) for (length, code), sym in dec.items()}


_ENC_DC = _build_encode_table(_ENC_DC_BITS, _ENC_DC_VALS)
_ENC_AC = _build_encode_table(_ENC_AC_BITS, _ENC_AC_VALS)
_ENC_AC_PROG = _build_encode_table(_ENC_AC_PROG_BITS, _ENC_AC_PROG_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, length: int, code: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.buf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write(pad, (1 << pad) - 1)  # pad with 1s per spec


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (size category, value bits)."""
    s = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _block_coefs(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """8x8 pixel block -> quantized coefficients in zig-zag order.
    AC magnitude categories stop at size 10: clamp the rare |coef| >
    1023 (possible only at quality ~100 with q=1 and a pathological
    block) — an encoder-side choice any decoder accepts."""
    x = np.round(_fdct2(block.astype(np.float64) - 128.0) / q, 9)
    # half away from zero, as IJG quantizes. The (0|4, 0|4) terms are
    # exact multiples of 1/(8q), so a true half-integer is common; the
    # matmul lands it a ulp either side depending on the host's BLAS
    # kernel, and the 9-digit snap above puts it back on the tie
    coef = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
    zz = coef.reshape(-1)[_ZZ]
    zz[1:] = np.clip(zz[1:], -1023, 1023)
    return zz


def _encode_block(w: _BitWriter, block: np.ndarray, q: np.ndarray, pred: int) -> int:
    zz = _block_coefs(block, q)
    dc = int(zz[0])
    s, bits = _magnitude(dc - pred)
    ln, code = _ENC_DC[s]
    w.write(ln, code)
    if s:
        w.write(s, bits)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = _ENC_AC[0xF0]  # ZRL
            w.write(ln, code)
            run -= 16
        s, bits = _magnitude(v)
        ln, code = _ENC_AC[(run << 4) | s]
        w.write(ln, code)
        w.write(s, bits)
        run = 0
    if last_nz < 63:
        ln, code = _ENC_AC[0x00]  # EOB
        w.write(ln, code)
    return dc


def _emit_ac_first_scan(
    wtr: _BitWriter, blocks: list[np.ndarray], ss: int, se: int, al: int
) -> None:
    """Progressive AC first scan (Ah=0) body over a component's blocks
    in raster order: run-length symbols on the point-transformed band,
    EOB runs accumulated across blocks (flushed at 0x7FFF, the EOB14
    ceiling)."""
    eobrun = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ln, code = _ENC_AC_PROG[r << 4]
            wtr.write(ln, code)
            if r:
                wtr.write(r, eobrun - (1 << r))
            eobrun = 0

    for zz in blocks:
        # point transform: magnitude shift, truncation toward zero
        vals = [
            (1 if int(v) > 0 else -1) * (abs(int(v)) >> al) for v in zz[ss : se + 1]
        ]
        nz = [j for j, v in enumerate(vals) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
            continue
        flush_eobrun()
        run = 0
        for j in range(nz[-1] + 1):
            v = vals[j]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = _ENC_AC_PROG[0xF0]
                wtr.write(ln, code)
                run -= 16
            s, bits = _magnitude(v)
            ln, code = _ENC_AC_PROG[(run << 4) | s]
            wtr.write(ln, code)
            wtr.write(s, bits)
            run = 0
        if nz[-1] + ss < se:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()


def _emit_ac_refine_scan(
    wtr: _BitWriter, blocks: list[np.ndarray], ss: int, se: int, al: int
) -> None:
    """Progressive AC refinement scan (Ah=Al+1) body: newly nonzero
    coefficients (|coef|>>Al == 1) as run-length+sign symbols; already
    nonzero ones as buffered correction bits emitted after the symbol
    (or ZRL, or EOB) they precede — the T.81 G.7 / libjpeg ordering the
    decoder's walk consumes. EOB flushed per block (run length 1), so
    cross-block EOB runs are exercised by the FIRST scans, and the
    correction-bit plumbing stays local."""
    for zz in blocks:
        absv = [abs(int(v)) >> al for v in zz[ss : se + 1]]
        r = 0
        br: list[int] = []
        for j, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            if t > 1:  # nonzero history: next magnitude bit
                br.append(t & 1)
                continue
            # newly nonzero (t == 1): flush pending ZRLs, then code it
            while r > 15:
                ln, code = _ENC_AC_PROG[0xF0]
                wtr.write(ln, code)
                r -= 16
                for b in br:
                    wtr.write(1, b)
                br = []
            ln, code = _ENC_AC_PROG[(r << 4) | 1]
            wtr.write(ln, code)
            wtr.write(1, 1 if int(zz[ss + j]) > 0 else 0)
            for b in br:
                wtr.write(1, b)
            br = []
            r = 0
        if r > 0 or br:
            ln, code = _ENC_AC_PROG[0x00]  # EOB, run of one block
            wtr.write(ln, code)
            for b in br:
                wtr.write(1, b)


def _encode_progressive_scans(
    padded: list[np.ndarray],
    samp: list[tuple[int, int]],
    qts: list[int],
    qy: np.ndarray,
    qc: np.ndarray,
    h: int,
    w: int,
    mcus_x: int,
    mcus_y: int,
) -> bytes:
    """SOS segments + entropy data for the fixed 4-phase scan script
    (DC first Al=1, DC refine, per-component AC first Al=1, AC refine).
    Coefficients are quantized once; each scan re-reads the store, so
    the decoded result is coefficient-identical to a baseline encode."""
    nc = len(padded)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # quantize every block once, into MCU-padded (bh, bw, 64) stores
    zzs = []
    for ci in range(nc):
        sh, sv = samp[ci]
        q = qy if qts[ci] == 0 else qc
        bh, bw = mcus_y * sv, mcus_x * sh
        arr = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                arr[by, bx] = _block_coefs(
                    padded[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q
                )
        zzs.append(arr)

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            body += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    # MCU-interleaved block order (shared by both DC scans)
    dc_order = [
        (ci, my * samp[ci][1] + by, mx * samp[ci][0] + bx)
        for my in range(mcus_y)
        for mx in range(mcus_x)
        for ci in range(nc)
        for by in range(samp[ci][1])
        for bx in range(samp[ci][0])
    ]
    out = bytearray()

    # scan 1: DC first, point transform Al=1 (arithmetic shift per T.81)
    out += sos(list(range(nc)), 0, 0, 0, 1)
    wtr = _BitWriter()
    pred = [0] * nc
    for ci, by, bx in dc_order:
        v = int(zzs[ci][by, bx, 0]) >> 1
        s, bits = _magnitude(v - pred[ci])
        pred[ci] = v
        ln, code = _ENC_DC[s]
        wtr.write(ln, code)
        if s:
            wtr.write(s, bits)
    wtr.flush()
    out += wtr.out

    # scan 2: DC refinement — the deferred low bit, raw (no Huffman)
    out += sos(list(range(nc)), 0, 0, 1, 0)
    wtr = _BitWriter()
    for ci, by, bx in dc_order:
        wtr.write(1, int(zzs[ci][by, bx, 0]) & 1)
    wtr.flush()
    out += wtr.out

    # scans 3..: per component, AC first then AC refine, over the
    # component's own (non-interleaved) block grid — T.81 requires
    # ns == 1 for progressive AC scans
    for ci in range(nc):
        sh, sv = samp[ci]
        cw = -(-(w * sh) // hmax)
        ch = -(-(h * sv) // vmax)
        bw_ni = -(-cw // 8)
        bh_ni = -(-ch // 8)
        blocks = [
            zzs[ci][by, bx] for by in range(bh_ni) for bx in range(bw_ni)
        ]
        out += sos([ci], 1, 63, 0, 1)
        wtr = _BitWriter()
        _emit_ac_first_scan(wtr, blocks, 1, 63, 1)
        wtr.flush()
        out += wtr.out
        out += sos([ci], 1, 63, 1, 0)
        wtr = _BitWriter()
        _emit_ac_refine_scan(wtr, blocks, 1, 63, 0)
        wtr.flush()
        out += wtr.out
    return bytes(out)


def _pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult
    pw = (-w) % mult
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """uint8 (h, w) gray or (h, w, 3) RGB -> JFIF bytes.
    ``subsample=True`` emits 4:2:0 (2x2 box-averaged chroma), else
    4:4:4; ``restart_interval`` > 0 emits DRI + RSTn markers every that
    many MCUs (baseline only, exercising the decoder's resync path);
    ``progressive=True`` emits SOF2 with the scan script: interleaved
    DC first (Al=1) + DC refine, then per component AC 1..63 first
    (Al=1) + AC refine — decodes bit-identically to the baseline
    encoding of the same image. Roundtrip-test encoder — see module
    docstring."""
    if progressive and restart_interval:
        raise ValueError("restart_interval is supported for baseline encodes only")
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy, qc = _quality_tables(quality)
    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qts = [0]
    else:
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            cbp = _pad_to(cb, 2)
            crp = _pad_to(cr, 2)
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2]) / 4.0
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2]) / 4.0
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qts = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = []
    for p, (sh, sv) in zip(planes, samp):
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        ph, pw = p.shape
        padded.append(np.pad(p, ((0, th - ph), (0, tw - pw)), mode="edge"))

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid: int, q: np.ndarray) -> bytes:
        return (
            b"\xff\xdb"
            + struct.pack(">H", 67)
            + bytes([tid])
            + bytes(int(v) for v in q.reshape(-1)[_ZZ])
        )

    out += dqt(0, qy)
    if not gray:
        out += dqt(1, qc)

    nc = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qts[ci]])
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + struct.pack(
        ">H", 2 + len(sof)
    ) + sof

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _ENC_DC_BITS, _ENC_DC_VALS)
    if progressive:
        out += dht(1, 0, _ENC_AC_PROG_BITS, _ENC_AC_PROG_VALS)
    else:
        out += dht(1, 0, _ENC_AC_BITS, _ENC_AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    if progressive:
        out += _encode_progressive_scans(padded, samp, qts, qy, qc, h, w, mcus_x, mcus_y)
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])  # all components use table 0/0
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _BitWriter()
    pred = [0] * nc
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                pred = [0] * nc
            mcu_count += 1
            for ci in range(nc):
                sh, sv = samp[ci]
                q = qy if qts[ci] == 0 else qc
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        blk = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        dc = _encode_block(wtr, blk, q, pred[ci])
                        pred[ci] = dc
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
