"""Baseline JPEG (ITU-T T.81 / JFIF) codec in pure numpy + stdlib.

Closes the last *image* codec stub in the K5 multimodal family
(SURVEY.md §2 K5): the entropy coder here is canonical Huffman, which
needs no external library — only MP3/MP4 (whose coders are genuinely
out of stdlib reach) remain stubbed in ``multimodal``.

Implements the baseline sequential DCT process:

- **Encoder**: BT.601 RGB→YCbCr, optional 4:2:0 chroma subsampling
  (box average), 8×8 DCT-II via matrix multiply, Annex K quantization
  tables scaled by the libjpeg quality formula, zigzag + DC-differential
  + run/size AC coding with the Annex K "typical" Huffman tables,
  byte-stuffed bitstream, JFIF marker layout.
- **Decoder**: marker parse (DQT/SOF0/DHT/SOS/DRI), canonical Huffman
  decode with 0xFF00 unstuffing and RSTn handling, dequantize, inverse
  zigzag, IDCT, nearest chroma upsample, YCbCr→RGB. Progressive
  (SOF2) and arithmetic-coded streams raise ``NotImplementedError``.

All table constants are published in ITU-T T.81 Annex K. The DCT pair
is exercised against the direct O(N^4) textbook formula in tests, so
the fast matrix path can't hide a complementary encoder/decoder bug.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# ITU-T T.81 Annex K.1/K.2 example quantization tables (the de-facto
# standard ones every baseline encoder ships)
QT_LUMA = np.array(
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
    dtype=np.float64,
).reshape(8, 8)
QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)

# Annex K.3-K.6 "typical" Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# 8-point DCT-II orthonormal basis; fdct = C @ X @ C.T, idct = C.T @ X @ C
_C = np.array(
    [
        [
            math.sqrt((1.0 if k == 0 else 2.0) / 8.0)
            * math.cos((2 * n + 1) * k * math.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """Forward DCT of every 8×8 block in a (by, bx, 8, 8) grid."""
    return np.einsum("ij,abjk,lk->abil", _C, blocks, _C)


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_fdct_blocks`."""
    return np.einsum("ji,abjk,kl->abil", _C, coef, _C)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000.0 / quality if quality < 50 else 200.0 - 2.0 * quality
    return np.clip(np.floor((base * scale + 50.0) / 100.0), 1, 255)


def _build_huffman_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical per T.81 C.2."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_huffman_decoder(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    return {
        (length, code): sym
        for sym, (code, length) in _build_huffman_codes(bits, huffval).items()
    }


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self._nbits -= 8
            self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, coded value) per T.81 F.1.2.1 — negatives coded as
    one's-complement within their size class."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


def _encode_block(
    w: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    dc = int(zz[0])
    size, coded = _magnitude(dc - pred)
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        w.write(coded, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if i > last_nz:
            code, length = ac_codes[0x00]  # EOB
            w.write(code, length)
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        size, coded = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        w.write(coded, size)
        run = 0
    return dc


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """(H,W) float plane, H,W multiples of 8 -> (H//8, W//8, 8, 8)."""
    h, w = plane.shape
    return plane.reshape(h // 8, 8, w // 8, 8).swapaxes(1, 2)


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def rgb_to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def encode_jpeg(img: np.ndarray, quality: int = 85, subsample: bool = False) -> bytes:
    """Encode an (H, W, 3) uint8 RGB image as baseline JFIF JPEG.

    ``subsample=True`` emits 4:2:0 (chroma box-averaged 2×2, the common
    photographic layout); otherwise 4:4:4.
    """
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected (H, W, 3) RGB")
    h, w = img.shape[:2]
    y, cb, cr = rgb_to_ycbcr(img)
    qt_l = _scaled_qt(QT_LUMA, quality)
    qt_c = _scaled_qt(QT_CHROMA, quality)

    if subsample:
        y_p = _pad_to(y, 16, 16)

        def box2(plane: np.ndarray) -> np.ndarray:
            p = _pad_to(plane, 2, 2)
            ph, pw = p.shape
            return p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))

        # 2x2 box average, then pad chroma planes to the 8-multiple grid
        cb_p = _pad_to(box2(cb), 8, 8)
        cr_p = _pad_to(box2(cr), 8, 8)
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        y_p = _pad_to(y, 8, 8)
        cb_p = _pad_to(cb, 8, 8)
        cr_p = _pad_to(cr, 8, 8)
        samp = [(1, 1), (1, 1), (1, 1)]

    planes = [y_p, cb_p, cr_p]
    qts = [qt_l, qt_c, qt_c]
    zz_planes = []
    for plane, qt in zip(planes, qts):
        blocks = _plane_blocks(plane - 128.0)
        by, bx = blocks.shape[:2]
        coef = _fdct_blocks(blocks)
        q = np.round(coef / qt).astype(np.int64)
        # zigzag: zz[k] = block.flat[ZIGZAG[k]]
        zz_planes.append(q.reshape(by, bx, 64)[..., ZIGZAG])

    dc_l = _build_huffman_codes(*DC_LUMA)
    ac_l = _build_huffman_codes(*AC_LUMA)
    dc_c = _build_huffman_codes(*DC_CHROMA)
    ac_c = _build_huffman_codes(*AC_CHROMA)
    comp_tabs = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

    writer = _BitWriter()
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    preds = [0, 0, 0]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (sh, sv) in enumerate(samp):
                zzp = zz_planes[ci]
                for by in range(sv):
                    for bx in range(sh):
                        blk = zzp[my * sv + by, mx * sh + bx]
                        preds[ci] = _encode_block(
                            writer, blk, preds[ci], *comp_tabs[ci]
                        )
    writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dqt(tid: int, qt: np.ndarray) -> bytes:
        return seg(0xFFDB, bytes([tid]) + bytes(qt.astype(np.uint8).flatten()[ZIGZAG]))

    def dht(tc: int, th: int, table: tuple[list[int], list[int]]) -> bytes:
        bits, vals = table
        return seg(0xFFC4, bytes([(tc << 4) | th] + bits + vals))

    sof = seg(
        0xFFC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + b"".join(
            bytes([cid + 1, (samp[cid][0] << 4) | samp[cid][1], 0 if cid == 0 else 1])
            for cid in range(3)
        ),
    )
    sos = seg(
        0xFFDA,
        bytes([3])
        + b"".join(bytes([cid + 1, (0x00 if cid == 0 else 0x11)]) for cid in range(3))
        + bytes([0, 63, 0]),
    )
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, qt_l)
        + dqt(1, qt_c)
        + sof
        + dht(0, 0, DC_LUMA)
        + dht(1, 0, AC_LUMA)
        + dht(0, 1, DC_CHROMA)
        + dht(1, 1, AC_CHROMA)
        + sos
        + bytes(writer.out)
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------- decoder


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    marker and reports it for RST handling."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise EOFError("truncated entropy segment")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = 0xFF00 | nxt
                raise EOFError("marker in entropy segment")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._nbits += 8

    def bits(self, n: int) -> int:
        while self._nbits < n:
            self._fill()
        self._nbits -= n
        v = (self._acc >> self._nbits) & ((1 << n) - 1)
        self._acc &= (1 << self._nbits) - 1
        return v

    def bit(self) -> int:
        return self.bits(1)

    def align(self) -> None:
        self._acc = 0
        self._nbits = 0

    def skip_rst(self) -> None:
        """Consume an expected RSTn marker at the current byte position."""
        self.align()
        d = self.data
        if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
            self.marker = None


def _decode_huff(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(content: bytes) -> np.ndarray:
    """Decode a baseline sequential JFIF/EXIF JPEG to (H, W, 3) uint8
    RGB (grayscale replicated to 3 channels)."""
    d = content
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    scan_order: list[dict] = []

    while pos < len(d):
        if d[pos] != 0xFF:
            pos += 1
            continue
        marker = d[pos + 1]
        pos += 2
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            continue
        (seglen,) = struct.unpack(">H", d[pos : pos + 2])
        payload = d[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64)
                tbl[ZIGZAG] = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                qts[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                huff[(tc, th)] = _build_huffman_decoder(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            h, w = struct.unpack(">HH", payload[1:5])
            ncomp = payload[5]
            comps = []
            for i in range(ncomp):
                cid, hv, tq = payload[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG process (SOF{marker - 0xC0})"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:  # SOS
            ns = payload[0]
            scan_order = []
            for i in range(ns):
                cs, tds = payload[1 + 2 * i : 3 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                comp["td"], comp["ta"] = tds >> 4, tds & 0x0F
                scan_order.append(comp)
            pos += seglen
            break
        pos += seglen
    else:
        raise ValueError("no SOS marker")

    if not comps or not h:
        raise ValueError("no SOF before SOS")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["coef"] = np.zeros(
            (mcus_y * c["v"], mcus_x * c["h"], 8, 8), dtype=np.float64
        )
        c["pred"] = 0

    reader = _BitReader(d, pos)
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.skip_rst()
                for c in comps:
                    c["pred"] = 0
            mcu += 1
            for c in scan_order:
                dct = huff[(0, c["td"])]
                act = huff[(1, c["ta"])]
                qt = qts[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64)
                        size = _decode_huff(reader, dct)
                        diff = _extend(reader.bits(size), size) if size else 0
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(reader, act)
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(reader.bits(size), size)
                            k += 1
                        blk = np.zeros(64)
                        blk[ZIGZAG] = zz
                        c["coef"][my * c["v"] + by, mx * c["h"] + bx] = (
                            blk.reshape(8, 8) * qt
                        )

    planes = []
    for c in comps:
        coef = c["coef"]
        by, bx = coef.shape[:2]
        spatial = _idct_blocks(coef) + 128.0
        plane = spatial.swapaxes(1, 2).reshape(by * 8, bx * 8)
        # nearest upsample to full resolution
        plane = np.repeat(np.repeat(plane, hmax // c["h"], axis=1), vmax // c["v"], axis=0)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    return ycbcr_to_rgb(planes[0], planes[1], planes[2])
