"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) codec in pure numpy + stdlib.

The container ships no libjpeg/PIL, but baseline sequential JPEG needs only
bit arithmetic and an 8x8 DCT — both expressible in numpy.  This module
implements an honest, self-contained codec:

* ``encode_jpeg``: baseline sequential, greyscale or YCbCr colour (4:4:4 or
  4:2:0 chroma subsampling), Annex K quantization tables scaled by the
  libjpeg/IJG quality rule, Annex K Huffman tables, JFIF APP0 header,
  0xFF byte stuffing.
* ``decode_jpeg``: marker-walking parser (DQT / SOF0 / DHT / DRI / SOS,
  APPn/COM skipped), arbitrary baseline sampling factors, restart-marker
  segments, table-driven Huffman decode (single 16-bit peek per symbol),
  dequantize → de-zigzag → IDCT → upsample → colour convert.
* progressive (SOF2) Huffman: full decoder (spectral selection +
  successive approximation incl. AC refinement scans, EOB runs,
  correction bits — T.81 Annex G) dispatched automatically from
  ``decode_jpeg``, plus ``encode_progressive_jpeg`` with a libjpeg-style
  scan script; decode(progressive) ≡ decode(baseline) pixel-exactly over
  the same quantized coefficients (tested).

Lossless (SOF3+) and arithmetic coding raise ``NotImplementedError``
explicitly.

Determinism notes (these matter for the driver-gate value oracle built on
constant-block greyscale fixtures, see multimodal.JPEG_ROUNDTRIP_SQL):

* quantization rounds half away from zero with a +1e-9 nudge so the exact
  .5 ties that constant blocks produce (DC = 8·(v-128), q00 = 16 at
  quality 50) do not flip on last-bit float error from the DCT matmul;
* at quality 50 the luminance DC quantizer is exactly the Annex K value 16,
  so a DC-only block dequantizes to a multiple of 16 and the IDCT output
  16·k/8 + 128 is an exact integer — no rounding tie in the decoder.

Reference parity: the reference repo (usc-isi-i2/linked-maps) has no media
path; this serves the brief's multimodal training-data requirement.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# spec constants (ITU-T T.81 Annex K — public standard tables)

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
    dtype=np.int64,
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
    dtype=np.int64,
)

# Huffman table specs: (BITS[1..16], HUFFVAL) per Annex K.3
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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
]


def _zigzag_order() -> np.ndarray:
    """Flat (row*8+col) indices in JPEG zigzag scan order (derived, not
    hardcoded: diagonals alternate direction, starting up-right)."""
    cells = [(r, c) for r in range(8) for c in range(8)]
    cells.sort(key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]))
    return np.array([r * 8 + c for r, c in cells], dtype=np.int64)


_ZIGZAG = _zigzag_order()          # zigzag position -> flat natural index
assert list(_ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    t = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16)
    t[0] /= np.sqrt(2.0)
    return t


_DCT = _dct_matrix()


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 → scaled Annex K table, clamped 1..255."""
    q = int(quality)
    if not 1 <= q <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (base * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int64)


def _build_codes(bits, vals):
    """Canonical Huffman: symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# bit I/O


class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            self.put(0x7F, 8 - self.nbits)  # pad with 1s to byte boundary


class _BitReader:
    """MSB-first reader over de-stuffed entropy bytes; 16-bit peek."""

    def __init__(self, data: bytes):
        self.data = np.frombuffer(bytes(data) + b"\x00" * 4, dtype=np.uint8)
        self.bitpos = 0

    def peek16(self) -> int:
        byte = self.bitpos >> 3
        chunk = (
            (int(self.data[byte]) << 24)
            | (int(self.data[byte + 1]) << 16)
            | (int(self.data[byte + 2]) << 8)
            | int(self.data[byte + 3])
        )
        return (chunk >> (16 - (self.bitpos & 7))) & 0xFFFF

    def skip(self, n: int) -> None:
        self.bitpos += n

    def receive_extend(self, size: int) -> int:
        """Read ``size`` magnitude bits and sign-extend per F.2.2.1."""
        if size == 0:
            return 0
        v = self.peek16() >> (16 - size)
        self.bitpos += size
        if v < (1 << (size - 1)):
            v += 1 - (1 << size)
        return v


class _HuffLUT:
    """16-bit-peek Huffman decode table: one lookup per symbol."""

    def __init__(self, bits, vals):
        self.sym = np.zeros(1 << 16, dtype=np.int16) - 1
        self.len = np.zeros(1 << 16, dtype=np.int8)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                self.sym[lo:hi] = vals[k]
                self.len[lo:hi] = length
                k += 1
                code += 1
            code <<= 1

    def decode(self, reader: _BitReader) -> int:
        peek = reader.peek16()
        length = int(self.len[peek])
        if length == 0:
            raise ValueError("invalid Huffman code in entropy stream")
        reader.skip(length)
        return int(self.sym[peek])


# ---------------------------------------------------------------------------
# encoder


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane, H/W multiples of 8 → (n_blocks, 8, 8) raster order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _quantize(coef: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """Round half away from zero, +1e-9 nudge (see module docstring)."""
    mag = np.floor(np.abs(coef) / qtbl + 0.5 + 1e-9)
    return (np.sign(coef) * mag).astype(np.int64)


def _encode_component_blocks(plane: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """float plane (already level-shifted) → (n_blocks, 64) zigzag quantized."""
    blocks = _to_blocks(plane)
    coef = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT, optimize=True)
    quant = _quantize(coef, qtbl[None, :, :]).reshape(-1, 64)
    return quant[:, _ZIGZAG]


def _magnitude(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _emit_block(
    w: _BitWriter, zz: np.ndarray, pred: int, dc_codes: dict, ac_codes: dict
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    size = _magnitude(diff)
    code, length = dc_codes[size]
    w.put(code, length)
    if size:
        bits = diff if diff >= 0 else diff + (1 << size) - 1
        w.put(bits, size)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zcode, zlen = ac_codes[0xF0]  # ZRL
            w.put(zcode, zlen)
            run -= 16
        size = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        w.put(code, length)
        bits = v if v >= 0 else v + (1 << size) - 1
        w.put(bits, size)
        run = 0
    if last < 63:
        code, length = ac_codes[0x00]  # EOB
        w.put(code, length)
    return dc


def _dht_segment(tclass: int, tid: int, bits, vals) -> bytes:
    body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _dqt_segment(tid: int, qtbl: np.ndarray) -> bytes:
    body = bytes([tid]) + bytes(int(x) for x in qtbl.reshape(-1)[_ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 75,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG.

    ``pixels``: (h, w) or (h, w, 1) uint8 greyscale, or (h, w, 3) uint8 RGB.
    ``subsampling``: '444' or '420' (colour only).
    ``restart_interval``: if > 0, emit a DRI segment and an RSTn marker every
    that many MCUs (byte-aligned, DC predictors reset) — exercises the
    decoder's restart-segment path.
    """
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 3 and px.shape[2] == 1:
        px = px[:, :, 0]
    grey = px.ndim == 2
    if not grey and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("encode_jpeg wants (h,w[,1]) grey or (h,w,3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qy = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)

    if grey:
        planes = [px.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        qmap = [0]
    else:
        f = px.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsampling == "420":
            cbp = _pad_edge(cb, 2)
            crp = _pad_edge(cr, 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qmap = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # pad each plane to a whole number of MCUs at ITS resolution
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zz_planes = []
    widths_b = []
    for (hi, vi), plane, qi in zip(samp, planes, qmap):
        target_w = mcus_x * 8 * hi
        target_h = mcus_y * 8 * vi
        ph = target_h - plane.shape[0]
        pw = target_w - plane.shape[1]
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
        zz_planes.append(
            _encode_component_blocks(plane, qy if qi == 0 else qc)
        )
        widths_b.append(target_w // 8)

    dc_y = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_y = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    huff = [(dc_y, ac_y)] + [(dc_c, ac_c)] * (len(planes) - 1)

    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                writer.buf += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * len(planes)
            mcu_count += 1
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        bidx = (my * vi + by) * widths_b[ci] + (mx * hi + bx)
                        preds[ci] = _emit_block(
                            writer,
                            zz_planes[ci][bidx],
                            preds[ci],
                            huff[ci][0],
                            huff[ci][1],
                        )
    writer.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    out += _dqt_segment(0, qy)
    if not grey:
        out += _dqt_segment(1, qc)
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (hi, vi) in enumerate(samp):
        sof += bytes([ci + 1, (hi << 4) | vi, qmap[ci]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not grey:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += writer.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder


def _split_entropy(b: bytes, pos: int):
    """From SOS data start: de-stuffed entropy segments split at RSTn, plus
    the position of the next non-RST marker."""
    segments = []
    cur = bytearray()
    n = len(b)
    while pos < n:
        byte = b[pos]
        if byte != 0xFF:
            cur.append(byte)
            pos += 1
            continue
        marker = b[pos + 1] if pos + 1 < n else 0xD9
        if marker == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= marker <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, pos


def _parse_dqt(body: bytes, qtables: dict) -> None:
    """DQT segment body → 8×8 int64 tables (shared by both decoders)."""
    off = 0
    while off < len(body):
        pq, tid = body[off] >> 4, body[off] & 0xF
        if pq != 0:
            raise NotImplementedError("16-bit quant tables")
        tbl = np.zeros(64, dtype=np.int64)
        tbl[_ZIGZAG] = np.frombuffer(body, dtype=np.uint8, count=64, offset=off + 1)
        qtables[tid] = tbl.reshape(8, 8)
        off += 65


def _parse_dht(body: bytes, hufftables: dict) -> None:
    """DHT segment body → ``_HuffLUT`` per (class, id) (shared)."""
    off = 0
    while off < len(body):
        tclass, tid = body[off] >> 4, body[off] & 0xF
        bits = list(body[off + 1 : off + 17])
        nval = sum(bits)
        vals = list(body[off + 17 : off + 17 + nval])
        hufftables[(tclass, tid)] = _HuffLUT(bits, vals)
        off += 17 + nval


def _reconstruct(planes_info, fh: int, fw: int, hmax: int, vmax: int) -> np.ndarray:
    """Shared decoder tail: per component (zigzag coefs, qtbl, hi, vi,
    width-in-blocks) → dequantize → de-zigzag → IDCT → upsample → crop →
    (grey | YCbCr→RGB) uint8."""
    out_planes = []
    for zz, qtbl, hi, vi, wb in planes_info:
        nat = np.zeros_like(zz)
        nat[:, _ZIGZAG] = zz
        coef = (nat.reshape(-1, 8, 8) * qtbl[None, :, :]).astype(np.float64)
        blocks = np.einsum("ji,njk,kl->nil", _DCT, coef, _DCT, optimize=True)
        plane = _from_blocks(blocks, zz.shape[0] // wb * 8, wb * 8) + 128.0
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:fh, :fw])
    if len(out_planes) == 1:
        grey = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return grey[:, :, None]
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bch = y + 1.772 * cb
    rgb = np.stack([r, g, bch], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode baseline JPEG → (h, w, 1) greyscale or (h, w, 3) RGB uint8."""
    b = bytes(payload)
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qtables: dict[int, np.ndarray] = {}
    hufftables: dict[tuple[int, int], _HuffLUT] = {}
    frame = None
    restart_interval = 0
    pos = 2
    scan_segments = None
    scan_comps = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            pos += 1  # tolerate fill bytes
            continue
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        body = b[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            _parse_dqt(body, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(body, hufftables)
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for ci in range(ncomp):
                cid, sampv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, sampv >> 4, sampv & 0xF, tq))
            frame = (fh, fw, comps)
        elif marker == 0xC2:  # SOF2: progressive, Huffman
            return _decode_progressive(b)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "lossless/arithmetic JPEG not supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for si in range(ns):
                cid, tids = body[1 + 2 * si], body[2 + 2 * si]
                scan_comps.append((cid, tids >> 4, tids & 0xF))
            scan_segments, pos = _split_entropy(b, pos)
            break  # single-scan baseline: decode below
        # else: APPn / COM skipped
    if frame is None or scan_segments is None:
        raise ValueError("JPEG missing SOF/SOS")

    fh, fw, comps = frame
    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))

    order = []  # per-MCU block emission order: (comp_idx, hi, vi)
    planes = []
    widths_b = []
    comp_tabs = []
    for idx, (cid, dc_id, ac_id) in enumerate(scan_comps):
        hi, vi, tq = by_id[cid]
        wb, hb = mcus_x * hi, mcus_y * vi
        planes.append(np.zeros((hb * wb, 64), dtype=np.int64))
        widths_b.append(wb)
        order.append((idx, hi, vi))
        comp_tabs.append(
            (hufftables[(0, dc_id)], hufftables[(1, ac_id)], qtables[tq])
        )

    nmcu = mcus_x * mcus_y
    mcu = 0
    for seg in scan_segments:
        reader = _BitReader(seg)
        preds = [0] * len(scan_comps)
        limit = (
            min(nmcu, mcu + restart_interval) if restart_interval else nmcu
        )
        while mcu < limit:
            my, mx = divmod(mcu, mcus_x)
            for idx, hi, vi in order:
                dc_lut, ac_lut, _q = comp_tabs[idx]
                for byy in range(vi):
                    for bxx in range(hi):
                        zz = planes[idx][
                            (my * vi + byy) * widths_b[idx] + (mx * hi + bxx)
                        ]
                        size = dc_lut.decode(reader)
                        preds[idx] += reader.receive_extend(size)
                        zz[0] = preds[idx]
                        k = 1
                        while k < 64:
                            rs = ac_lut.decode(reader)
                            run, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if run == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = reader.receive_extend(size)
                            k += 1
            mcu += 1
        if mcu >= nmcu:
            break

    return _reconstruct(
        [
            (planes[idx], comp_tabs[idx][2], *by_id[cid][:2], widths_b[idx])
            for idx, (cid, _dc, _ac) in enumerate(scan_comps)
        ],
        fh, fw, hmax, vmax,
    )


# ---------------------------------------------------------------------------
# progressive (SOF2) — ITU-T T.81 Annex G, Huffman coding
#
# Decoder: full spectral selection + successive approximation, including
# AC refinement scans with EOB runs and correction bits (the algorithm is
# the one T.81 G.1.2.3 specifies and every decoder implements; the control
# flow below mirrors that public specification).  Coefficients accumulate
# across scans in zigzag order per component; reconstruction shares the
# baseline dequantize → IDCT → upsample tail.
#
# Encoder: a libjpeg-style scan script (DC first at Al=1 → luma AC bands →
# chroma AC → DC refine → AC refinement to Al=0) over the SAME quantized
# coefficients the baseline encoder produces — so decode(progressive) must
# equal decode(baseline) PIXEL-EXACTLY at the same quality/subsampling,
# which is what the tests pin.  Annex K Huffman tables lack the EOBn
# (n>0) symbols, so the encoder ends every block's band with EOB0 (run
# length 1) — always legal; the decoder handles general EOBn.


def _prog_emit_ac_first(w, zz, ss, se, al, ac_codes) -> None:
    run = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        if t == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            w.put(code, length)
            run -= 16
        size = t.bit_length()
        code, length = ac_codes[(run << 4) | size]
        w.put(code, length)
        tv = t if v > 0 else -t
        bits = tv if tv >= 0 else tv + (1 << size) - 1
        w.put(bits, size)
        run = 0
    if run > 0:
        code, length = ac_codes[0x00]  # EOB0
        w.put(code, length)


def _prog_emit_ac_refine(w, zz, ss, se, al, ac_codes) -> None:
    # eob = band index of the LAST newly-significant coefficient; pending
    # ZRLs are emitted at every nonzero position while k <= eob (the
    # correction bits buffered so far belong BEFORE the run the decoder
    # skips), and everything past eob rides the EOB symbol instead
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = -1
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    run = 0
    br: list[int] = []  # buffered correction bits (flushed after symbols)

    def flush() -> None:
        for bit in br:
            w.put(bit, 1)
        br.clear()

    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            code, length = ac_codes[0xF0]
            w.put(code, length)
            run -= 16
            flush()
        if t > 1:  # already significant at the previous precision
            br.append(t & 1)
            continue
        # newly significant (t == 1): |v| >> (al+1) == 0
        code, length = ac_codes[(run << 4) | 1]
        w.put(code, length)
        w.put(1 if int(zz[k]) > 0 else 0, 1)  # sign: 1 → +2^al, 0 → −2^al
        flush()
        run = 0
    if run > 0 or br:
        code, length = ac_codes[0x00]
        w.put(code, length)
        flush()


def encode_progressive_jpeg(
    pixels: np.ndarray, quality: int = 75, subsampling: str = "444"
) -> bytes:
    """Progressive (SOF2) JPEG over the baseline encoder's quantized
    coefficients — see the section note above for the scan script."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 3 and px.shape[2] == 1:
        px = px[:, :, 0]
    grey = px.ndim == 2
    if not grey and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("encode wants (h,w[,1]) grey or (h,w,3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qy = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)

    if grey:
        planes = [px.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        qmap = [0]
    else:
        f = px.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsampling == "420":
            cbp = _pad_edge(cb, 2)
            crp = _pad_edge(cr, 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qmap = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zz_planes = []
    widths_b = []
    grids = []  # non-interleaved (h_blocks, w_blocks) per component
    for (hi, vi), plane, qi in zip(samp, planes, qmap):
        target_w = mcus_x * 8 * hi
        target_h = mcus_y * 8 * vi
        plane = np.pad(
            plane,
            ((0, target_h - plane.shape[0]), (0, target_w - plane.shape[1])),
            mode="edge",
        )
        zz_planes.append(_encode_component_blocks(plane, qy if qi == 0 else qc))
        widths_b.append(target_w // 8)
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        grids.append((-(-ch // 8), -(-cw // 8)))

    dc_codes = [
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS) if qi == 0
        else _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
        for qi in qmap
    ]
    ac_codes = [
        _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS) if qi == 0
        else _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
        for qi in qmap
    ]

    def mcu_blocks():
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (hi, vi) in enumerate(samp):
                    for by in range(vi):
                        for bx in range(hi):
                            yield ci, (my * vi + by) * widths_b[ci] + (mx * hi + bx)

    def sos(comps, ss, se, ah, al):
        body = bytes([len(comps)])
        for ci in comps:
            tid = 0 if qmap[ci] == 0 else 1
            body += bytes([ci + 1, (tid << 4) | tid])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    scans: list[bytes] = []

    def dc_first(al):
        wtr = _BitWriter()
        preds = [0] * len(planes)
        for ci, bidx in mcu_blocks():
            v = int(zz_planes[ci][bidx][0]) >> al
            diff = v - preds[ci]
            preds[ci] = v
            size = _magnitude(diff)
            code, length = dc_codes[ci][size]
            wtr.put(code, length)
            if size:
                bits = diff if diff >= 0 else diff + (1 << size) - 1
                wtr.put(bits, size)
        wtr.flush()
        scans.append(sos(list(range(len(planes))), 0, 0, 0, al) + wtr.buf)

    def dc_refine(al):
        wtr = _BitWriter()
        for ci, bidx in mcu_blocks():
            wtr.put((int(zz_planes[ci][bidx][0]) >> al) & 1, 1)
        wtr.flush()
        scans.append(sos(list(range(len(planes))), 0, 0, al + 1, al) + wtr.buf)

    def ac_scan(ci, ss, se, ah, al):
        wtr = _BitWriter()
        hb2, wb2 = grids[ci]
        for by in range(hb2):
            for bx in range(wb2):
                zz = zz_planes[ci][by * widths_b[ci] + bx]
                if ah == 0:
                    _prog_emit_ac_first(wtr, zz, ss, se, al, ac_codes[ci])
                else:
                    _prog_emit_ac_refine(wtr, zz, ss, se, al, ac_codes[ci])
        wtr.flush()
        scans.append(sos([ci], ss, se, ah, al) + wtr.buf)

    # libjpeg-style script: approximation Al=1 first, refinement to Al=0
    dc_first(1)
    if grey:
        ac_scan(0, 1, 5, 0, 1)
        ac_scan(0, 6, 63, 0, 1)
        dc_refine(0)
        ac_scan(0, 1, 5, 1, 0)
        ac_scan(0, 6, 63, 1, 0)
    else:
        ac_scan(0, 1, 5, 0, 1)
        ac_scan(1, 1, 63, 0, 1)
        ac_scan(2, 1, 63, 0, 1)
        ac_scan(0, 6, 63, 0, 1)
        dc_refine(0)
        ac_scan(0, 1, 63, 1, 0)
        ac_scan(1, 1, 63, 1, 0)
        ac_scan(2, 1, 63, 1, 0)

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    out += _dqt_segment(0, qy)
    if not grey:
        out += _dqt_segment(1, qc)
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (hi, vi) in enumerate(samp):
        sof += bytes([ci + 1, (hi << 4) | vi, qmap[ci]])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not grey:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    for s in scans:
        out += s
    out += b"\xff\xd9"
    return bytes(out)


def _decode_progressive(b: bytes) -> np.ndarray:
    """Decode a progressive (SOF2) Huffman JPEG (see section note)."""
    qtables: dict[int, np.ndarray] = {}
    hufftables: dict[tuple[int, int], _HuffLUT] = {}
    frame = None
    restart_interval = 0
    pos = 2
    coef: list[np.ndarray] = []      # per component: (padded blocks, 64) zigzag
    widths_b: list[int] = []
    grids: list[tuple[int, int]] = []  # non-interleaved (hb, wb) per comp
    comps = []
    hmax = vmax = mcus_x = mcus_y = 0

    def decode_scan(scan_comps, ss, se, ah, al, segments):
        p1, m1 = 1 << al, -1 << al
        idxs = [next(i for i, c in enumerate(comps) if c[0] == cid)
                for cid, _, _ in scan_comps]
        dc_luts = {}
        ac_luts = {}
        for (cid, dci, aci), idx in zip(scan_comps, idxs):
            if ss == 0 and ah == 0:
                dc_luts[idx] = hufftables[(0, dci)]
            if ss != 0:
                ac_luts[idx] = hufftables[(1, aci)]

        interleaved = len(idxs) > 1
        if ss != 0 and interleaved:
            raise ValueError("progressive AC scan must be single-component")
        if interleaved:
            units = mcus_x * mcus_y
        else:
            hb2, wb2 = grids[idxs[0]]
            units = hb2 * wb2

        unit = 0
        for seg in segments:
            reader = _BitReader(seg)
            preds = {i: 0 for i in idxs}
            eobrun = 0
            limit = min(units, unit + restart_interval) if restart_interval else units
            while unit < limit:
                if interleaved:
                    my, mx = divmod(unit, mcus_x)
                    blocks = []
                    for idx in idxs:
                        _, hi, vi, _ = comps[idx]
                        for by in range(vi):
                            for bx in range(hi):
                                blocks.append((idx, (my * vi + by) * widths_b[idx]
                                               + (mx * hi + bx)))
                else:
                    idx = idxs[0]
                    _, hi, vi, _ = comps[idx]
                    hb2, wb2 = grids[idx]
                    by, bx = divmod(unit, wb2)
                    blocks = [(idx, by * widths_b[idx] + bx)]
                for idx, bidx in blocks:
                    zz = coef[idx][bidx]
                    if ss == 0 and ah == 0:       # DC first
                        size = dc_luts[idx].decode(reader)
                        preds[idx] += reader.receive_extend(size)
                        zz[0] = preds[idx] << al
                    elif ss == 0:                  # DC refine: one raw bit
                        if reader.peek16() >> 15:
                            zz[0] |= p1
                        reader.skip(1)
                    elif ah == 0:                  # AC first
                        if eobrun > 0:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            rs = ac_luts[idx].decode(reader)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += reader.peek16() >> (16 - r)
                                        reader.skip(r)
                                    eobrun -= 1
                                    break
                                k += 16  # ZRL
                            else:
                                k += r
                                if k > se:
                                    raise ValueError("AC run past band end")
                                zz[k] = reader.receive_extend(s) << al
                                k += 1
                    else:                          # AC refine (T.81 G.1.2.3)
                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                rs = ac_luts[idx].decode(reader)
                                r, s = rs >> 4, rs & 15
                                newval = 0
                                if s:
                                    if s != 1:
                                        raise ValueError("bad refine symbol")
                                    bit = reader.peek16() >> 15
                                    reader.skip(1)
                                    newval = p1 if bit else m1
                                elif r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += reader.peek16() >> (16 - r)
                                        reader.skip(r)
                                    break
                                while k <= se:
                                    if zz[k] != 0:
                                        bit = reader.peek16() >> 15
                                        reader.skip(1)
                                        if bit and (int(zz[k]) & p1) == 0:
                                            zz[k] += p1 if zz[k] >= 0 else m1
                                    else:
                                        r -= 1
                                        if r < 0:
                                            break
                                    k += 1
                                if s and k <= se:
                                    zz[k] = newval
                                k += 1
                        if eobrun > 0:
                            while k <= se:
                                if zz[k] != 0:
                                    bit = reader.peek16() >> 15
                                    reader.skip(1)
                                    if bit and (int(zz[k]) & p1) == 0:
                                        zz[k] += p1 if zz[k] >= 0 else m1
                                k += 1
                            eobrun -= 1
                unit += 1
            if unit >= units:
                break

    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            pos += 1
            continue
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        body = b[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:
            _parse_dqt(body, qtables)
        elif marker == 0xC4:
            _parse_dht(body, hufftables)
        elif marker == 0xC2:
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            for ci in range(ncomp):
                cid, sampv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, sampv >> 4, sampv & 0xF, tq))
            frame = (fh, fw)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-fw // (8 * hmax))
            mcus_y = -(-fh // (8 * vmax))
            for cid, hi, vi, tq in comps:
                wb, hb = mcus_x * hi, mcus_y * vi
                coef.append(np.zeros((hb * wb, 64), dtype=np.int64))
                widths_b.append(wb)
                cw = -(-fw * hi // hmax)
                ch = -(-fh * vi // vmax)
                grids.append((-(-ch // 8), -(-cw // 8)))
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF2")
            ns = body[0]
            scan_comps = []
            for si in range(ns):
                cid, tids = body[1 + 2 * si], body[2 + 2 * si]
                scan_comps.append((cid, tids >> 4, tids & 0xF))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            segments, pos = _split_entropy(b, pos)
            decode_scan(scan_comps, ss, se, ahal >> 4, ahal & 0xF, segments)
        # APPn / COM skipped

    if frame is None:
        raise ValueError("progressive JPEG missing SOF2")
    fh, fw = frame
    return _reconstruct(
        [
            (coef[idx], qtables[tq], hi, vi, widths_b[idx])
            for idx, (cid, hi, vi, tq) in enumerate(comps)
        ],
        fh, fw, hmax, vmax,
    )
