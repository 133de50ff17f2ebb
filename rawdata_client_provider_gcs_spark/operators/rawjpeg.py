"""Pure-numpy baseline JPEG codec (SOF0, Huffman, 4:4:4/4:2:2/4:2:0).

Closes the last compressed-image gap from the round-4 review: JPEG —
the dominant real-world lossy format — previously decoded only when
pillow happened to be importable.  This module needs nothing beyond
numpy and implements the baseline sequential DCT process end to end:

- ``decode_jpeg``: marker walk (SOI/APPn/COM/DQT/DHT/SOF0/DRI/SOS/EOI),
  table-driven Huffman decode of the entropy-coded segment (flat 2^16
  peek tables LRU-cached by DHT bytes; byte de-stuffing, restart
  markers), coefficient scatter + dequantize + batched inverse DCT as
  stacked BLAS matmuls, chroma upsampling for 2×1/1×2/2×2 sampling
  factors, YCbCr→RGB.  Progressive (SOF2) streams route to the
  dedicated multi-scan decoder (``rawjpeg_progressive``, round 6);
  arithmetic coding and 12-bit precision raise ``ValueError`` — a loud
  error beats a silent misdecode.  ~6 MB/s of decoded pixels per core in pure Python
  (tools/codec_bench.py); the multimodal kernels run one core per Arrow
  batch, so a 32-core executor decodes ~180 MB/s.
- ``encode_jpeg``: 4:4:4 baseline with the Annex-K-style quantization
  tables scaled by the usual IJG quality formula and Huffman tables
  emitted in the DHT segment.  Correctness never depends on the table
  *contents* being the canonical ones: JPEG streams carry their own
  tables, so encoder and any decoder (this one, libjpeg, pillow)
  always agree by construction.

Determinism notes for the oracle-checked queries: a constant-color
gray image with an even pixel value round-trips **bit-exactly** at
quality 50 (the DC coefficient ``8·(v−128)`` divides the luma DC
quantizer 16 with no rounding; chroma planes are exactly 128 → zero),
which is what `q_multimodal_image_pipeline`'s JPEG rows rely on.

Like the reference's payloads, JPEG bytes travel as opaque
``map<string,bytes>`` values (AvroRawdataProducer.java:42-49); this
codec is what makes the decode kernels real for them.
"""

from __future__ import annotations

import struct
from functools import lru_cache as _lru_cache

import numpy as np

# ---------------------------------------------------------------- tables

#: Annex-K-style base quantization tables (natural order).
_QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    np.int32,
)

_QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    np.int32,
)


def _zigzag_order() -> np.ndarray:
    """Natural-order index for each zigzag position (generated, not typed)."""
    order = []
    for d in range(15):
        rows = [i for i in range(d + 1) if i < 8 and d - i < 8]
        if d % 2 == 0:
            rows = rows[::-1]  # even diagonals run bottom-left → top-right
        order.extend(r * 8 + (d - r) for r in rows)
    return np.array(order, np.int64)


_ZIGZAG = _zigzag_order()
_UNZIGZAG = np.argsort(_ZIGZAG)


def _dct_matrix() -> np.ndarray:
    """8-point DCT-II matrix M with JPEG scaling: F = M f Mᵀ, f = Mᵀ F M."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0] /= np.sqrt(2.0)
    return m


_DCT = _dct_matrix()

# Huffman table specs as (bits-per-length[1..16], symbol list).  The DC
# tables are the canonical Annex K ones; the AC tables cover every
# (run, size) symbol with a compact canonical code.  Streams embed these
# in DHT, so their exact shape is a size/compat knob, not a correctness one.
_DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)


def _ac_spec() -> tuple[list[int], list[int]]:
    """A canonical code over all 162 AC symbols, short codes first.

    The common symbols (EOB plus low run/size pairs) get explicit short
    lengths; everything else shares length 12.  Kraft sum:
    ``1/4 + 2/8 + 3/16 + 5/32 + 148/4096 = 0.879 ≤ 1`` — a valid prefix
    code.  Not the Annex K assignment — deliberately generated rather
    than transcribed, since a typo in 162 hand-typed bytes would be
    invisible (the stream stays self-consistent) but untestable.
    """
    short = [
        (2, [0x00]),  # EOB
        (3, [0x01, 0x11]),
        (4, [0x02, 0x21, 0x31]),
        (5, [0x03, 0x12, 0x41, 0x51, 0x04]),
    ]
    taken = [s for _, syms in short for s in syms]
    rest = [0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 11)
    ]
    rest = sorted(s for s in rest if s not in taken)
    bits = [0] * 16
    symbols: list[int] = []
    for length, syms in short:
        bits[length - 1] = len(syms)
        symbols.extend(syms)
    bits[11] = len(rest)
    symbols.extend(rest)
    return bits, symbols


_AC_SPEC = _ac_spec()
assert sum(_AC_SPEC[0]) == len(_AC_SPEC[1]) == 162

# ITU-T T.81 Annex K.3 "typical" AC tables — the fixed tables
# table-less MJPG streams (OpenDML AVIs, old cameras) are encoded
# against, so decoding those REQUIRES this exact assignment.  The
# literals were machine-extracted from the DHT segments the JDK's
# ImageIO JPEG encoder emits (it writes the Annex K defaults), and
# tests/test_rawavi.py re-extracts and compares them at test time, so
# a transcription typo cannot survive.  (Annex K DC tables are already
# _DC_LUMA_SPEC/_DC_CHROMA_SPEC above.)
_ANNEX_K_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
     0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
     0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
     0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
     0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
     0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
     0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
     0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
     0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
     0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
     0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)
_ANNEX_K_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
     0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
     0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
     0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
     0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
     0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
     0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
     0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
     0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
     0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)
for _spec in (_ANNEX_K_AC_LUMA, _ANNEX_K_AC_CHROMA):
    assert sum(_spec[0]) == len(_spec[1]) == 162


def annex_k_dht_segment() -> bytes:
    """One 0xFFC4 segment carrying the four Annex K tables — what a
    table-less MJPG decoder must assume."""
    body = bytearray()
    for tclass, tid, (bits, vals) in (
        (0, 0, _DC_LUMA_SPEC),
        (1, 0, _ANNEX_K_AC_LUMA),
        (0, 1, _DC_CHROMA_SPEC),
        (1, 1, _ANNEX_K_AC_CHROMA),
    ):
        body += bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + bytes(body)


def strip_huffman_tables(payload: bytes) -> bytes:
    """Remove every DHT segment (the table-less MJPG layout — the
    fixture-side inverse of :func:`ensure_huffman_tables`)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    out = bytearray(b"\xff\xd8")
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        marker = payload[pos + 1]
        if marker == 0xDA:
            out += payload[pos:]
            return bytes(out)
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if marker != 0xC4:
            out += payload[pos : pos + 2 + length]
        pos += 2 + length
    raise ValueError("truncated JPEG stream (no SOS)")


def ensure_huffman_tables(payload: bytes) -> bytes:
    """Splice the Annex K DHT into a table-less JPEG stream.

    MJPG frames commonly omit DHT (OpenDML: decoders assume the T.81
    Annex K typical tables).  Returns the payload unchanged when it
    already carries any DHT; otherwise inserts the default tables
    right before SOS so :func:`decode_jpeg` reads it like any
    interchange stream."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker == 0xC4:
            return payload  # tables present
        if marker == 0xDA:  # SOS without any DHT: splice here
            return payload[:pos] + annex_k_dht_segment() + payload[pos:]
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        pos += 2 + length
    raise ValueError("truncated JPEG stream (no SOS)")


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for a canonical JPEG Huffman table."""
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


def _build_decode_map(
    bits: list[int], vals: list[int]
) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, the decoder-side view of a DHT table."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def sniff_jpeg(payload: bytes) -> bool:
    return payload[:3] == b"\xff\xd8\xff"


# ---------------------------------------------------------------- encoder


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_QUANT_LUMA, _QUANT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane → (N, 8, 8) blocks, row-major block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    pred: list[int],
    ci: int,
    dc_table: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """Huffman-encode one zigzagged quantized block (DC diff + AC runs)."""
    diff = int(block[0]) - pred[ci]
    pred[ci] = int(block[0])
    s = _category(diff)
    code, length = dc_table[s]
    writer.write(code, length)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = np.nonzero(block[1:])[0]
    end = (last_nz[-1] + 2) if last_nz.size else 1
    for k in range(1, end):
        v = int(block[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_codes[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if end < 64:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)


def _quantized_grids(
    arr: np.ndarray, quality: int, subsampling: str
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray, int, int]:
    """Color-convert, pad, subsample, DCT and quantize: the shared front
    half of the baseline and progressive encoders.  Returns
    ``(zz_grids, ql, qc, sh, sv)`` where each grid is the component's
    (block_rows, block_cols, 64) zigzagged int32 coefficients."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("expected an (H, W, 3) uint8 array")
    factors = {"4:4:4": (1, 1), "4:2:0": (2, 2), "4:2:2": (2, 1)}
    if subsampling not in factors:
        raise ValueError(f"unsupported subsampling: {subsampling}")
    sh, sv = factors[subsampling]
    h, w = arr.shape[:2]
    ql, qc = _quality_tables(quality)

    rgb = arr.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    luma = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0

    mcu_h, mcu_w = 8 * sv, 8 * sh
    ph, pw = -h % mcu_h, -w % mcu_w
    luma = np.pad(luma, ((0, ph), (0, pw)), mode="edge")
    cb = np.pad(cb, ((0, ph), (0, pw)), mode="edge")
    cr = np.pad(cr, ((0, ph), (0, pw)), mode="edge")
    if (sh, sv) != (1, 1):  # box-mean downsample of the chroma planes
        cb = cb.reshape(cb.shape[0] // sv, sv, cb.shape[1] // sh, sh).mean((1, 3))
        cr = cr.reshape(cr.shape[0] // sv, sv, cr.shape[1] // sh, sh).mean((1, 3))
    planes = [luma, cb, cr]

    zz_grids = []
    for ci, plane in enumerate(planes):
        q = ql if ci == 0 else qc
        nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
        blocks = _blocks_of(plane) - 128.0
        # stacked matmuls hit BLAS; einsum's general path is ~5x slower
        coef = _DCT @ blocks @ _DCT.T
        scaled = coef / q
        quant = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
            np.int32
        )
        zz_grids.append(quant.reshape(nby, nbx, 64)[:, :, _ZIGZAG])
    return zz_grids, ql, qc, sh, sv


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 75,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    huffman: str = "repo",
) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a baseline JPEG.

    ``subsampling`` is ``"4:4:4"`` (default; exact round-trip for
    constant even-gray images), ``"4:2:0"`` (2×2 box-mean chroma, the
    common camera layout), or ``"4:2:2"`` (horizontal-only 2×1, the
    common video layout).  ``restart_interval`` > 0 emits DRI + RSTn
    markers every that many MCUs — the layout long scans use so a
    corrupt byte only loses one restart segment.  ``huffman="annex_k"``
    encodes against the T.81 Annex K typical tables (what table-less
    MJPG streams assume) instead of the repo's generated AC code.
    """
    if huffman not in ("repo", "annex_k"):
        raise ValueError("huffman must be 'repo' or 'annex_k'")
    zz_grids, ql, qc, sh, sv = _quantized_grids(arr, quality, subsampling)
    h, w = arr.shape[:2]
    mcu_h, mcu_w = 8 * sv, 8 * sh

    dc_l = _build_codes(*_DC_LUMA_SPEC)
    dc_c = _build_codes(*_DC_CHROMA_SPEC)
    ac_l_spec = _AC_SPEC if huffman == "repo" else _ANNEX_K_AC_LUMA
    ac_c_spec = _AC_SPEC if huffman == "repo" else _ANNEX_K_AC_CHROMA
    ac_l = _build_codes(*ac_l_spec)
    ac_c = _build_codes(*ac_c_spec)

    mcus_y = zz_grids[0].shape[0] // sv
    mcus_x = zz_grids[0].shape[1] // sh
    scan = bytearray()
    writer = _BitWriter()
    pred = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                scan += writer.flush()
                scan += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                writer = _BitWriter()
                pred = [0, 0, 0]
            mcu_count += 1
            for by in range(sv):
                for bx in range(sh):
                    _encode_block(
                        writer,
                        zz_grids[0][sv * my + by, sh * mx + bx],
                        pred,
                        0,
                        dc_l,
                        ac_l,
                    )
            _encode_block(writer, zz_grids[1][my, mx], pred, 1, dc_c, ac_c)
            _encode_block(writer, zz_grids[2][my, mx], pred, 2, dc_c, ac_c)
    scan += writer.flush()
    scan = bytes(scan)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(tclass: int, tid: int, spec: tuple[list[int], list[int]]) -> bytes:
        bits, vals = spec
        return bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(ql.reshape(64)[_ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(qc.reshape(64)[_ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (sh << 4) | sv, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += seg(0xFFC0, sof)
    out += seg(
        0xFFC4,
        dht(0, 0, _DC_LUMA_SPEC)
        + dht(1, 0, ac_l_spec)
        + dht(0, 1, _DC_CHROMA_SPEC)
        + dht(1, 1, ac_c_spec),
    )
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_cmyk(
    arr: np.ndarray, quality: int = 75, transform: int = 2
) -> bytes:
    """Encode an (H, W, 4) uint8 CMYK *ink-value* array as a
    4-component Adobe JPEG (4:4:4), storing all channels inverted per
    the Adobe print convention: ``transform=2`` (YCCK — the YCbCr
    transform applied to the inverted CMY) or ``transform=0``
    (inverted CMYK, no transform).  Emits the APP14 marker the decoder
    requires."""
    if arr.ndim != 3 or arr.shape[2] != 4 or arr.dtype != np.uint8:
        raise ValueError("expected an (H, W, 4) uint8 CMYK array")
    if transform not in (0, 2):
        raise ValueError("Adobe 4-component transform must be 0 or 2")
    h, w = arr.shape[:2]
    inv = 255.0 - arr[:, :, :3].astype(np.float64)  # stored CMY
    sk = 255.0 - arr[:, :, 3].astype(np.float64)    # stored K
    if transform == 2:
        r, g, b = inv[:, :, 0], inv[:, :, 1], inv[:, :, 2]
        p0 = 0.299 * r + 0.587 * g + 0.114 * b
        p1 = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
        p2 = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    else:
        p0, p1, p2 = inv[:, :, 0], inv[:, :, 1], inv[:, :, 2]
    planes = [p0, p1, p2, sk]
    ql, qc = _quality_tables(quality)
    # YCCK: chroma table for Cb/Cr; inverted CMYK: luma table for all
    # four ink planes (they are full-bandwidth samples, not chroma)
    luma_comps = (0, 3) if transform == 2 else (0, 1, 2, 3)
    ph, pw = -h % 8, -w % 8
    zz_grids = []
    for ci, plane in enumerate(planes):
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
        q = ql if ci in luma_comps else qc
        nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
        coef = _DCT @ (_blocks_of(plane) - 128.0) @ _DCT.T
        scaled = coef / q
        quant = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)) \
            .astype(np.int32)
        zz_grids.append(quant.reshape(nby, nbx, 64)[:, :, _ZIGZAG])
    dc_l = _build_codes(*_DC_LUMA_SPEC)
    dc_c = _build_codes(*_DC_CHROMA_SPEC)
    ac = _build_codes(*_AC_SPEC)
    writer = _BitWriter()
    pred = [0, 0, 0, 0]
    mcus_y, mcus_x = zz_grids[0].shape[0], zz_grids[0].shape[1]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(4):
                _encode_block(
                    writer, zz_grids[ci][my, mx], pred, ci,
                    dc_l if ci in luma_comps else dc_c, ac,
                )
    scan = bytes(writer.flush())

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(tclass: int, tid: int, spec) -> bytes:
        bits, vals = spec
        return bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")
    out += seg(
        0xFFEE,
        b"Adobe" + struct.pack(">HHHB", 0x64, 0, 0, transform),
    )
    out += seg(0xFFDB, b"\x00"
               + bytes(ql.reshape(64)[_ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01"
               + bytes(qc.reshape(64)[_ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 4)
    for ci, cid in enumerate((1, 2, 3, 4)):
        sof += bytes([cid, 0x11, 0 if ci in luma_comps else 1])
    out += seg(0xFFC0, sof)
    out += seg(
        0xFFC4,
        dht(0, 0, _DC_LUMA_SPEC) + dht(1, 0, _AC_SPEC)
        + dht(0, 1, _DC_CHROMA_SPEC) + dht(1, 1, _AC_SPEC),
    )
    sos = bytearray([4])
    for ci, cid in enumerate((1, 2, 3, 4)):
        t = 0x00 if ci in luma_comps else 0x11
        sos += bytes([cid, t])
    out += seg(0xFFDA, bytes(sos) + bytes([0, 63, 0]))
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- decoder


class _BitReader:
    """MSB-first bit reader over a de-stuffed entropy segment.

    Reads go through a 32-bit window assembled with ``int.from_bytes``
    so magnitude bits cost one call, and Huffman symbols decode via a
    flat 2^16 peek table (one list index per symbol) instead of a
    bit-at-a-time tree walk — the difference between ~2 MB/s and
    ~15 MB/s of decoded pixels in pure Python.
    """

    def __init__(self, data: bytes) -> None:
        self.data = data + b"\x00\x00\x00\x00"
        self.pos = 0  # bit position

    def peek16(self) -> int:
        byte = self.pos >> 3
        window = int.from_bytes(self.data[byte : byte + 4], "big")
        return (window >> (16 - (self.pos & 7))) & 0xFFFF

    def read_bits(self, n: int) -> int:
        byte = self.pos >> 3
        window = int.from_bytes(self.data[byte : byte + 4], "big")
        v = (window >> (32 - (self.pos & 7) - n)) & ((1 << n) - 1)
        self.pos += n
        return v


def _receive_extend(reader: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = reader.read_bits(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _build_peek_table(
    decode_map: dict[tuple[int, int], int]
) -> list[tuple[int, int] | None]:
    """(symbol, code_length) for every possible 16-bit lookahead."""
    table: list[tuple[int, int] | None] = [None] * (1 << 16)
    for (length, code), sym in decode_map.items():
        base = code << (16 - length)
        if base + (1 << (16 - length)) > (1 << 16):
            # Kraft sum > 1: a hostile DHT oversubscribed the code space
            raise ValueError("oversubscribed JPEG Huffman table")
        for i in range(1 << (16 - length)):
            table[base + i] = (sym, length)
    return table


def _decode_symbol(
    reader: _BitReader, table: list[tuple[int, int] | None]
) -> int:
    hit = table[reader.peek16()]
    if hit is None:
        raise ValueError("invalid JPEG Huffman code")
    sym, length = hit
    reader.pos += length
    return sym


@_lru_cache(maxsize=64)
def _peek_table_cached(bits: tuple, vals: tuple) -> list:
    """Peek tables keyed by raw DHT content — identical across every
    image from the same encoder (incl. libjpeg's default tables), so a
    decode fleet builds each table once per process, not per image."""
    return _build_peek_table(_build_decode_map(list(bits), list(vals)))


def _next_restart_segment(seg_iter):
    """Next RST-delimited entropy segment; a stream whose DRI promises
    more restart segments than exist is corrupt (ValueError, never a
    bare StopIteration out of the decode loop)."""
    try:
        return next(seg_iter)
    except StopIteration:
        raise ValueError(
            "JPEG entropy stream missing an expected restart segment"
        )


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode baseline-sequential JPEG bytes to an (H, W, 3) uint8 RGB array."""
    if not sniff_jpeg(payload):
        raise ValueError("not a JPEG payload")
    pos = 2
    n = len(payload)
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, components) where component = (cid, hs, vs, tq)
    restart_interval = 0
    scan_info = None
    adobe_transform = None
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0xF
                if prec != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                zz = np.frombuffer(body, np.uint8, 64, i + 1).astype(np.int32)
                qtables[tid] = zz[_UNZIGZAG].reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(body):
                tclass, tid = body[i] >> 4, body[i] & 0xF
                bits = tuple(body[i + 1 : i + 17])
                count = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + count])
                if len(vals) < count:
                    raise ValueError(
                        "JPEG DHT segment shorter than its counts claim"
                    )
                htables[(tclass, tid)] = (bits, vals)
                i += 17 + count
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF header")
            prec, fh, fw, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if ncomp not in (1, 3, 4):
                # 2-component streams are malformed; 4-component
                # Adobe CMYK/YCCK decodes via the APP14 transform (r15)
                raise ValueError(
                    f"unsupported JPEG component count {ncomp}"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("JPEG SOF header shorter than ncomp claims")
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = body[6 + 3 * c : 9 + 3 * c]
                hs, vs = sampling >> 4, sampling & 0xF
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    # zero/huge factors are hostile bytes (fuzz-found:
                    # a 0 divides the chroma upsample later)
                    raise ValueError(
                        f"invalid JPEG sampling factors {hs}x{vs}"
                    )
                comps.append((cid, hs, vs, tq))
            frame = (fh, fw, comps)
        elif marker == 0xC2:  # SOF2: progressive — dedicated decoder
            from . import rawjpeg_progressive  # noqa: PLC0415

            return rawjpeg_progressive.decode_progressive(payload)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise ValueError(
                f"unsupported JPEG process (SOF{marker & 0xF}); "
                "baseline sequential (SOF0) and progressive (SOF2) "
                "are implemented"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xEE:  # APP14 (Adobe color-transform marker)
            if body[:5] == b"Adobe":
                if len(body) < 12:
                    raise ValueError("malformed Adobe APP14 segment")
                adobe_transform = body[11]
                if adobe_transform not in (0, 1, 2):
                    raise ValueError(
                        f"unknown Adobe APP14 transform {adobe_transform}"
                    )
        elif marker == 0xDA:  # SOS — entropy data follows
            if not body:
                raise ValueError("truncated JPEG SOS header")
            ns = body[0]
            if len(body) < 1 + 2 * ns:
                # hostile component count vs body length (fuzz-found:
                # IndexError must not escape the Arrow kernel)
                raise ValueError("JPEG SOS header shorter than ns claims")
            scan_comps = []
            for c in range(ns):
                cid, tables = body[1 + 2 * c], body[2 + 2 * c]
                scan_comps.append((cid, tables >> 4, tables & 0xF))
            scan_info = scan_comps
            break
        # APPn / COM / others: skipped
    if frame is None or scan_info is None:
        raise ValueError("truncated JPEG: missing SOF0/SOS")

    fh, fw, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (fw + mcu_w - 1) // mcu_w
    mcus_y = (fh + mcu_h - 1) // mcu_h

    # split entropy-coded data at restart markers, de-stuff each segment
    segments: list[bytes] = []
    seg_start = pos
    i = pos
    while i + 1 < n:
        if payload[i] == 0xFF:
            m = payload[i + 1]
            if m == 0x00:
                i += 2
                continue
            if 0xD0 <= m <= 0xD7:  # RSTn
                segments.append(payload[seg_start:i].replace(b"\xff\x00", b"\xff"))
                i += 2
                seg_start = i
                continue
            break  # EOI or next marker
        i += 1
    segments.append(payload[seg_start:i].replace(b"\xff\x00", b"\xff"))

    by_cid = {c[0]: c for c in comps}
    plan = []  # per scan component: (hs, vs, quant, dc_table, ac_table)
    for cid, dc_id, ac_id in scan_info:
        if cid not in by_cid:
            raise ValueError(f"JPEG scan references unknown component {cid}")
        _, hs, vs, tq = by_cid[cid]
        if tq not in qtables or (0, dc_id) not in htables or (
            1,
            ac_id,
        ) not in htables:
            # hostile bytes can reference tables never defined
            raise ValueError("JPEG scan references an undefined table")
        plan.append(
            (
                hs,
                vs,
                qtables[tq],
                _peek_table_cached(*htables[(0, dc_id)]),
                _peek_table_cached(*htables[(1, ac_id)]),
            )
        )

    # entropy-decode every block's coefficients (Python bit loop) into
    # flat (block, zigzag-pos, value) triples, then one vectorized
    # scatter + dequantize + inverse DCT per component — the arithmetic
    # stays numpy even though the Huffman stream is inherently
    # sequential; nothing per-coefficient touches a numpy scalar.
    coef_idx: list[list[int]] = [[] for _ in plan]
    coef_pos: list[list[int]] = [[] for _ in plan]
    coef_val: list[list[int]] = [[] for _ in plan]
    n_blocks = [0] * len(plan)
    seg_iter = iter(segments)
    reader = _BitReader(_next_restart_segment(seg_iter))
    pred = [0] * len(plan)
    mcu_count = 0
    for _my in range(mcus_y):
        for _mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader = _BitReader(_next_restart_segment(seg_iter))
                pred = [0] * len(plan)
            mcu_count += 1
            for ci, (hs, vs, _q, dc_map, ac_map) in enumerate(plan):
                bidx = coef_idx[ci]
                bpos = coef_pos[ci]
                bval = coef_val[ci]
                for _ in range(hs * vs):
                    b = n_blocks[ci]
                    n_blocks[ci] = b + 1
                    s = _decode_symbol(reader, dc_map)
                    pred[ci] += _receive_extend(reader, s)
                    bidx.append(b)
                    bpos.append(0)
                    bval.append(pred[ci])
                    k = 1
                    while k < 64:
                        rs = _decode_symbol(reader, ac_map)
                        if rs == 0x00:  # EOB
                            break
                        run, size = rs >> 4, rs & 0xF
                        if size == 0:
                            if run != 15:
                                raise ValueError("bad AC run/size symbol")
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC coefficient overrun")
                        bidx.append(b)
                        bpos.append(k)
                        bval.append(_receive_extend(reader, size))
                        k += 1

    planes = []
    for ci, (hs, vs, q, _dc, _ac) in enumerate(plan):
        zz = np.zeros((n_blocks[ci], 64), np.float64)
        zz[coef_idx[ci], coef_pos[ci]] = coef_val[ci]
        blocks = zz[:, _UNZIGZAG].reshape(-1, 8, 8) * q
        pix = _DCT.T @ blocks @ _DCT + 128.0
        # blocks are in MCU order: reassemble (mcus_y, mcus_x, vs, hs, 8, 8)
        bw, bh = mcus_x * hs, mcus_y * vs
        grid = pix.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
        plane = grid.transpose(0, 2, 4, 1, 3, 5).reshape(bh * 8, bw * 8)
        # upsample to full resolution when subsampled
        if hs < hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs < vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:fh, :fw])

    if len(planes) == 1:
        y = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    if len(planes) == 4:
        # Adobe print JPEG: all four channels are stored INVERTED
        # (0 = full ink); YCCK applies the YCbCr transform to the
        # inverted CMY.  A 4-component stream without the APP14
        # transform is ambiguous — loud beats a silent misdecode.
        if adobe_transform is None:
            raise ValueError(
                "4-component JPEG without an Adobe APP14 transform"
            )
        if adobe_transform == 2:  # YCCK
            y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
            sc = y + 1.402 * cr
            sm = y - 0.344136286 * cb - 0.714136286 * cr
            sy = y + 1.772 * cb
        elif adobe_transform == 0:  # inverted CMYK, no transform
            sc, sm, sy = planes[0], planes[1], planes[2]
        else:
            raise ValueError(
                "Adobe APP14 transform 1 (YCbCr) with 4 components"
            )
        sk = np.clip(planes[3], 0.0, 255.0)
        rgb = np.stack([np.clip(sc, 0.0, 255.0) * sk,
                        np.clip(sm, 0.0, 255.0) * sk,
                        np.clip(sy, 0.0, 255.0) * sk], axis=2) / 255.0
        return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    if len(planes) != 3:
        # a scan naming 0 or 2 of the frame's components (fuzz-found:
        # IndexError must not escape the Arrow kernel)
        raise ValueError(f"JPEG scan carries {len(planes)} components")
    if adobe_transform == 0:
        # Adobe transform 0 with three components: plain RGB planes
        rgb = np.stack(planes, axis=2)
        return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
