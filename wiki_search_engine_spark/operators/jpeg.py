"""Dependency-free baseline JPEG codec for the multimodal decode path.

The reference crawler stores up to 10 jpgs per page
(Crawler/crawler.py:326-361); libjpeg is absent in this container, so
pixel-level JPEG support is implemented from the ITU-T.81 byte layouts
directly: ``jpeg_bytes_full`` emits complete baseline (SOF0) files for
the synth corpus and ``decode_jpeg_rgb`` entropy-decodes them —
DQT/DHT/SOF0/SOS/DRI segment parse, canonical Huffman, run/size AC
coding, dequant + inverse zigzag, and an INTEGER-EXACT IDCT.

Bit-exact contract: decoded pixels feed exact-integer-sum features
(media_embed), so two independent decoders must agree to the last bit.
Floating-point IDCTs don't compose that way (summation order changes
ulps), so the decode SPEC is fixed-point: the scaled cosine table
``IDCT_COS`` (alpha(u)*cos((2x+1)*u*pi/16) * 2^17, rounded) and the
rounding rule pixel = ((acc + 2^35) >> 36) + 128 are part of the
format contract, as are the YCbCr fixed-point constants. The scalar
reference decoder (oracle_py/jpeg_ref.py) implements the same spec
with zero shared code (per-bit reader, per-coefficient loops) — the
constants are shared the way BM25's k1/b are, the code is not.

Scope (documented boundary): baseline sequential, 8-bit, 1x1 sampling
(4:4:4 color or grayscale), interleaved single scan, restart markers
honored. Progressive (SOF2), subsampled, arithmetic-coded, and 12-bit
files raise ValueError — at corpus scale those rows surface as NULL
features, never job failures (operators/multimodal.py kernel_real).
"""

from __future__ import annotations

import numpy as np

# --- spec constants (ITU-T.81 Annex K tables + fixed-point IDCT) -----

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# (bits-per-length[1..16], symbol list) — Annex K.3
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# IDCT_COS[x][u] = round(alpha(u) * cos((2x+1)*u*pi/16) * 2^17),
# alpha(0) = 1/sqrt(2). Pixel rule: ((acc + 2^35) >> 36) + 128,
# clamped to [0, 255], acc = sum_u sum_v coef[v][u] * COS[y][v] *
# COS[x][u]. Pure int64 — any two implementations agree exactly.
IDCT_COS = np.array(
    [
        [92682, 128553, 121095, 108982, 92682, 72820, 50159, 25571],
        [92682, 108982, 50159, -25571, -92682, -128553, -121095, -72820],
        [92682, 72820, -50159, -128553, -92682, 25571, 121095, 108982],
        [92682, 25571, -121095, -72820, 92682, 108982, -50159, -128553],
        [92682, -25571, -121095, 72820, 92682, -108982, -50159, 128553],
        [92682, -72820, -50159, 128553, -92682, -25571, 121095, -108982],
        [92682, -108982, 50159, 25571, -92682, 128553, -121095, 72820],
        [92682, -128553, 121095, -108982, 92682, -72820, 50159, -25571],
    ],
    dtype=np.int64,
)

# JFIF YCbCr -> RGB, 16-bit fixed point (also part of the decode spec):
# R = Y + (91881*(Cr-128) + 32768 >> 16), etc.
_C_RCR, _C_GCB, _C_GCR, _C_BCB = 91881, 22554, 46802, 116130


# --- encoder (synth corpus side) -------------------------------------


class _BitWriter:
    """MSB-first entropy bit writer with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def pad(self) -> None:
        if self.n:  # put() drains at 8, so 1..7 bits remain
            fill = 8 - self.n
            self.put((1 << fill) - 1, fill)  # pad with 1-bits

    def restart(self, idx: int) -> None:
        """Byte-align and emit RSTn (n cycles 0..7), unstuffed."""
        self.pad()
        self.out += bytes([0xFF, 0xD0 + (idx % 8)])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.out)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _magnitude(v: int) -> tuple[int, int]:
    """(size, offset-bits) for a DC diff / AC value."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


_FDCT_M = None


def _fdct(block: np.ndarray) -> np.ndarray:
    """M @ block @ M.T summed elementwise in a fixed order (over j, then
    over k). A BLAS matmul picks its summation order by CPU kernel, so
    rounding ties in the quantizer flip between machines and the
    payload bytes (and their pinned md5s) would too."""
    global _FDCT_M
    if _FDCT_M is None:
        x = np.arange(8)
        u = np.arange(8)[:, None]
        m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
        m[0] /= np.sqrt(2)
        _FDCT_M = m
    m = _FDCT_M
    rows = m[:, 0:1] * block[0:1, :]
    for j in range(1, 8):
        rows = rows + m[:, j:j + 1] * block[j:j + 1, :]
    out = rows[:, 0:1] * m[:, 0]
    for k in range(1, 8):
        out = out + rows[:, k:k + 1] * m[:, k]
    return out


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    qt: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    coef = np.round(_fdct(block.astype(np.float64) - 128.0) / qt).astype(
        np.int64
    )
    zz = coef.reshape(-1)[ZIGZAG]
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    c, ln = dc_codes[size]
    writer.put(c, ln)
    if size:
        writer.put(bits, size)
    run = 0
    last = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last:
                c, ln = ac_codes[0x00]  # EOB
                writer.put(c, ln)
                break
            run += 1
            if run == 16:
                c, ln = ac_codes[0xF0]  # ZRL
                writer.put(c, ln)
                run = 0
            continue
        size, bits = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        writer.put(c, ln)
        writer.put(bits, size)
        run = 0
    return dc


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def jpeg_bytes_full(
    rgb: np.ndarray, gray: bool = False, restart_interval: int = 0
) -> bytes:
    """COMPLETE valid baseline JPEG: SOI + APP0 + DQT(x2) + SOF0 +
    DHT(x4) [+ DRI] + SOS + Huffman-coded 4:4:4 MCUs [+ RSTn] + EOI.
    ``rgb``: (h, w, 3) uint8 (``gray=True`` encodes one Y component
    from channel 0); ``restart_interval`` > 0 emits a DRI segment and
    an RSTn marker (DC predictors reset) every that-many MCUs. Edge
    blocks are replicated-padded to 8-pixel multiples."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    h, w = rgb.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    r = rgb[:, :, 0].astype(np.int64)
    g = rgb[:, :, 1].astype(np.int64)
    b = rgb[:, :, 2].astype(np.int64)
    # JFIF forward transform (float is fine here: the DECODE side is
    # the bit-exact contract, the encoder just has to emit valid bytes)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [y] if gray else [y, cb, cr]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = []
    for p in planes:
        q = np.clip(np.round(p), 0, 255)
        q = np.pad(q, ((0, ph - h), (0, pw - w)), mode="edge")
        padded.append(q)
    qt_l = np.array(QT_LUMA, dtype=np.float64).reshape(-1)[
        np.argsort(ZIGZAG)
    ].reshape(8, 8)
    qt_c = np.array(QT_CHROMA, dtype=np.float64).reshape(-1)[
        np.argsort(ZIGZAG)
    ].reshape(8, 8)
    dc_l = _huff_codes(*HUFF_DC_LUMA)
    ac_l = _huff_codes(*HUFF_AC_LUMA)
    dc_c = _huff_codes(*HUFF_DC_CHROMA)
    ac_c = _huff_codes(*HUFF_AC_CHROMA)
    out = bytearray(b"\xff\xd8")
    out += _seg(
        0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += _seg(0xDB, bytes([0x00]) + bytes(QT_LUMA))
    if not gray:
        out += _seg(0xDB, bytes([0x01]) + bytes(QT_CHROMA))
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([ncomp])
    sof += bytes([1, 0x11, 0])  # Y: id 1, 1x1, qt 0
    if not gray:
        sof += bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(HUFF_DC_LUMA[0])
                + bytes(HUFF_DC_LUMA[1]))
    out += _seg(0xC4, bytes([0x10]) + bytes(HUFF_AC_LUMA[0])
                + bytes(HUFF_AC_LUMA[1]))
    if not gray:
        out += _seg(0xC4, bytes([0x01]) + bytes(HUFF_DC_CHROMA[0])
                    + bytes(HUFF_DC_CHROMA[1]))
        out += _seg(0xC4, bytes([0x11]) + bytes(HUFF_AC_CHROMA[0])
                    + bytes(HUFF_AC_CHROMA[1]))
    if restart_interval:
        out += _seg(0xDD, int(restart_interval).to_bytes(2, "big"))
    sos = bytes([ncomp, 1, 0x00])
    if not gray:
        sos += bytes([2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    writer = _BitWriter()
    preds = [0] * ncomp
    mcu = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.restart(mcu // restart_interval - 1)
                preds = [0] * ncomp
            mcu += 1
            for ci in range(ncomp):
                block = padded[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ]
                qt = qt_l if ci == 0 else qt_c
                dcc = dc_l if ci == 0 else dc_c
                acc = ac_l if ci == 0 else ac_c
                preds[ci] = _encode_block(
                    writer, block, qt, dcc, acc, preds[ci]
                )
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


# --- decoder (the bit-exact spec implementation) ---------------------


class _BitReader:
    """MSB-first entropy reader: un-stuffs 0xFF00, stops at markers.
    Restart markers are surfaced to the caller via ``restart()``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("entropy data ran out")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                # a real marker mid-read: not decodable as bits
                raise ValueError(f"unexpected marker 0xff{nxt:02x}")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Consume pad bits + an RSTn marker at a restart boundary."""
        self.acc = 0
        self.n = 0
        d = self.data
        if (
            self.pos + 1 < len(d)
            and d[self.pos] == 0xFF
            and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("missing restart marker")


def _build_decode_table(
    bits: list[int], vals: list[int]
) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, canonical order — same assignment rule
    as the encoder but consumed via incremental (length, code) lookup."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise ValueError("DHT symbol count mismatch")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg_rgb(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from a baseline JPEG per the module's fixed-point
    decode spec. ValueError on progressive/subsampled/12-bit/arithmetic
    files and on any truncation or table inconsistency; output size is
    guarded (w*h <= 2^26) before any allocation."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int]] = []  # (component id, qt id)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc id, ac id)
    h = w = None
    restart_interval = 0
    n = len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = b[pos + 1]
        if marker in (0xC2, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                      0xCB, 0xCC, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported SOF/DAC 0x{marker:02x}: decoder covers "
                "baseline sequential (SOF0), Huffman-coded"
            )
        ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
        seg = b[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qts[tq] = np.array(
                    list(seg[i + 1 : i + 65]), dtype=np.int64
                )
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                cnt = sum(bits)
                vals = list(seg[i + 17 : i + 17 + cnt])
                huff[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + cnt
        elif marker == 0xC0:
            if seg[0] != 8:
                raise ValueError("12-bit precision unsupported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if nc not in (1, 3):
                raise ValueError(f"{nc}-component JPEG unsupported")
            if h < 1 or w < 1 or w * h > (1 << 26):
                raise ValueError(f"refusing JPEG dimensions {w}x{h}")
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError(
                        "subsampled JPEG unsupported (1x1 only)"
                    )
                comps.append((cid, tq))
        elif marker == 0xDD:
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:
            ns = seg[0]
            if ns != len(comps):
                raise ValueError("non-interleaved scans unsupported")
            for si in range(ns):
                cid, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                idx = next(
                    (i for i, (c, _) in enumerate(comps) if c == cid),
                    None,
                )
                if idx is None:
                    raise ValueError(f"scan references unknown comp {cid}")
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            pos = pos + 2 + ln
            break
        pos += 2 + ln
    else:
        raise ValueError("no SOS segment")
    if h is None:
        raise ValueError("no SOF0 before SOS")
    reader = _BitReader(b, pos)
    bh, bw = (h + 7) // 8, (w + 7) // 8
    planes = [
        np.empty((bh * 8, bw * 8), dtype=np.int64) for _ in comps
    ]
    preds = [0] * len(comps)
    mcu = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart()
                preds = [0] * len(comps)
            mcu += 1
            for ci, dc_id, ac_id in scan:
                dc_tab = huff.get((0, dc_id))
                ac_tab = huff.get((1, ac_id))
                qt = qts.get(comps[ci][1])
                if dc_tab is None or ac_tab is None or qt is None:
                    raise ValueError("scan references missing table")
                zz = np.zeros(64, dtype=np.int64)
                size = _read_symbol(reader, dc_tab)
                if size > 11:
                    raise ValueError("DC size out of range")
                preds[ci] += _extend(reader.bits(size), size)
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = _read_symbol(reader, ac_tab)
                    run, size = rs >> 4, rs & 0x0F
                    if size == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    zz[k] = _extend(reader.bits(size), size)
                    k += 1
                coef = np.zeros(64, dtype=np.int64)
                coef[ZIGZAG] = zz * qt
                coef = coef.reshape(8, 8)
                # integer-exact 2D IDCT per the spec constants: int64
                # matmuls are exact, so accumulation order is free
                acc = IDCT_COS @ coef @ IDCT_COS.T
                pix = ((acc + (1 << 35)) >> 36) + 128
                planes[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = np.clip(pix, 0, 255)
    if len(comps) == 1:
        ych = planes[0][:h, :w]
        return np.repeat(
            ych.astype(np.uint8)[:, :, None], 3, axis=2
        )
    y = planes[0][:h, :w]
    cb = planes[1][:h, :w] - 128
    cr = planes[2][:h, :w] - 128
    r = y + ((_C_RCR * cr + 32768) >> 16)
    g = y - ((_C_GCB * cb + 32768) >> 16) - ((_C_GCR * cr + 32768) >> 16)
    bl = y + ((_C_BCB * cb + 32768) >> 16)
    out = np.stack(
        [np.clip(r, 0, 255), np.clip(g, 0, 255), np.clip(bl, 0, 255)],
        axis=2,
    )
    return out.astype(np.uint8)


def jpeg_pixel_features(b: bytes):
    """``rgba_features`` (mean RGBA + 4-bin luma histogram, exact
    integer sums) over a decoded baseline JPEG, alpha = 255."""
    from wiki_search_engine_spark.operators.multimodal import (
        rgba_features,
    )

    rgb = decode_jpeg_rgb(b)
    rgba = np.concatenate(
        [rgb, np.full(rgb.shape[:2] + (1,), 255, np.uint8)], axis=2
    )
    return rgba_features(rgba)
