"""Baseline JPEG codec in pure stdlib + numpy.

De-stubs ``image/jpeg`` in dependency-free environments (PIL absent in
this container), mirroring what ``multimodal._decode_png`` did for PNG:
the decoder handles the baseline profile actually seen in web-crawl
training corpora — SOF0 (baseline DCT), 8-bit samples, Huffman coding,
grayscale or YCbCr with any of the common subsampling layouts (4:4:4,
4:2:2, 4:4:0, 4:2:0), restart markers, multi-segment DQT/DHT. The
encoder is intentionally minimal (4:4:4 or 4:2:0, spec Annex K tables)
— it exists so tests can round-trip without any external fixture or
library.

Everything here is straight from the public JPEG spec (ITU-T T.81):
marker layout §B, Huffman entropy coding §F.2, the DC/AC decode
procedures DECODE/RECEIVE/EXTEND §F.2.2, Annex K example tables. The
IDCT is the separable 8x8 DCT-III as two numpy matmuls — vectorized,
so a mapInPandas batch of images stays numpy-bound, not Python-bound.

No reference analog (eland is text-only); this backs the multimodal
column family (SURVEY §2 training-data extension).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg_baseline"]

# zig-zag order: index i of the scan -> (row, col) flat index in the 8x8
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8x8 DCT basis: _DCT_BASIS[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_x = np.arange(8)
_DCT_BASIS = np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16) / 2.0
_DCT_BASIS[0, :] *= 1.0 / np.sqrt(2.0)


def _idct2(coeff: np.ndarray) -> np.ndarray:
    """Inverse 8x8 DCT of a stack of blocks, shape (n, 8, 8)."""
    # spatial = B^T @ coeff @ B  (separable inverse of the forward
    # transform spatial -> B @ s @ B^T)
    return np.einsum("ux,nuv,vy->nxy", _DCT_BASIS, coeff, _DCT_BASIS)


def _fdct2(blocks: np.ndarray) -> np.ndarray:
    """Forward 8x8 DCT of a stack of blocks, shape (n, 8, 8)."""
    return np.einsum("ux,nxy,vy->nuv", _DCT_BASIS, blocks, _DCT_BASIS)


class _Huffman:
    """Canonical Huffman table from a DHT segment (BITS + HUFFVAL)."""

    def __init__(self, bits: list[int], values: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = values[k]
                code += 1
                k += 1
            code <<= 1
        self.bits = bits
        self.values = values


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; RST markers are consumed by ``restart()``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _next_byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy stream")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG entropy stream")
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            # a real marker (EOI / RSTn before restart() was called):
            # baseline decoders treat trailing reads as 0 padding
            return -1
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.n == 0:
            b = self._next_byte()
            if b < 0:
                return 0
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: _Huffman) -> int:
        code, length = 0, 0
        lookup = table.lookup
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def restart(self) -> None:
        """Byte-align, skip any unread pad/stuffed bytes, and consume
        the RSTn marker (at most a couple of bytes ahead in a valid
        stream — bounded to keep corrupt input from scanning far)."""
        self.n = 0
        d = self.data
        for _ in range(4):
            if self.pos + 1 >= len(d):
                break
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected JPEG restart marker")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG (SOF0, 8-bit, Huffman) to (h, w, 3) uint8.

    Supports 1-component grayscale and 3-component YCbCr with
    arbitrary sampling factors up to 2 (covers 4:4:4 / 4:2:2 / 4:4:0 /
    4:2:0), restart intervals, and multi-table DQT/DHT segments.
    Progressive (SOF2) and arithmetic-coded streams raise
    NotImplementedError — they are rare in training corpora and out of
    the baseline profile.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _Huffman] = {}  # (class, id)
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    restart_interval = 0
    scan_comps = None
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes —
        # skip runs of 0xFF so the byte AFTER the run is the marker id
        # (real web-crawl JPEGs pad with fill; ADVICE r3)
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            raise ValueError("truncated JPEG stream (EOF inside marker)")
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG marker segment header")
        ln = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        if ln < 2 or pos + 2 + ln > len(data):
            raise ValueError("truncated JPEG marker segment body")
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(
                        body[i : i + 64], dtype=np.uint8
                    ).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(
                        body[i : i + 128], dtype=">u2"
                    ).astype(np.int32)
                    i += 128
                qtables[tq] = tbl
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nvals = sum(bits)
                vals = body[i + 17 : i + 17 + nvals]
                htables[(tc, th)] = _Huffman(bits, vals)
                i += 17 + nvals
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF0 segment")
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0x{marker:02x} is outside the "
                "baseline profile (progressive/arithmetic/lossless)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                scan_comps.append((cs, tables >> 4, tables & 0x0F))
            pos = pos + 2 + ln
            break
        pos += 2 + ln
    if frame is None or scan_comps is None:
        raise ValueError("JPEG missing SOF0/SOS")

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # per-component block grids, sized to the MCU-padded frame
    planes = {
        cid: np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float32)
        for cid, hs, vs, _tq in comps
    }
    dc_tab = {cs: htables[(0, td)] for cs, td, _ta in scan_comps}
    ac_tab = {cs: htables[(1, ta)] for cs, _td, ta in scan_comps}
    reader = _BitReader(data, pos)
    dc_pred = {cid: 0 for cid, *_ in comps}
    zz = _ZIGZAG
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            reader.restart()
            dc_pred = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(m, mcux)
        for cid, hs, vs, tq in comps:
            q = qtables[tq]
            for by in range(vs):
                for bx in range(hs):
                    coeff = np.zeros(64, dtype=np.int32)
                    s = reader.decode(dc_tab[cid])
                    diff = _extend(reader.read_bits(s), s)
                    dc_pred[cid] += diff
                    coeff[0] = dc_pred[cid]
                    k = 1
                    while k < 64:
                        rs = reader.decode(ac_tab[cid])
                        r, ssss = rs >> 4, rs & 0x0F
                        if ssss == 0:
                            if r == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC coefficient overrun")
                        coeff[k] = _extend(reader.read_bits(ssss), ssss)
                        k += 1
                    block = np.zeros(64, dtype=np.float32)
                    block[zz] = (coeff * q).astype(np.float32)
                    spatial = _idct2(block.reshape(1, 8, 8))[0] + 128.0
                    y0 = (my * vs + by) * 8
                    x0 = (mx * hs + bx) * 8
                    planes[cid][y0 : y0 + 8, x0 : x0 + 8] = spatial
    # upsample to full resolution and crop the MCU padding
    full = []
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


# --- minimal encoder (round-trip fixtures; Annex K tables) -----------------

# ITU-T T.81 Annex K.1 example quantization tables (quality ~50)
_K1_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)
_K1_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)

# Annex K.3 example Huffman tables: (BITS list, HUFFVAL bytes)
_K3_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_K3_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_K3_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    bytes(
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
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
            0xF9, 0xFA,
        ]
    ),
)
_K3_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    bytes(
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
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
            0xF9, 0xFA,
        ]
    ),
)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.n = 0, 0


def _enc_codes(table: tuple[list[int], bytes]) -> dict[int, tuple[int, int]]:
    bits, values = table
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _magnitude(v: int) -> tuple[int, int]:
    """(category SSSS, appended bits) for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_blocks(
    writer: _BitWriter,
    blocks: np.ndarray,
    q: np.ndarray,
    dc_codes,
    ac_codes,
    dc_pred: int,
) -> int:
    for blk in blocks:
        coeff = _fdct2(blk[None].astype(np.float32) - 128.0)[0]
        zz = np.round(coeff.reshape(64)[_ZIGZAG] / q).astype(np.int32)
        s, bits = _magnitude(int(zz[0]) - dc_pred)
        dc_pred = int(zz[0])
        c, ln = dc_codes[s]
        writer.write(c, ln)
        writer.write(bits, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]  # ZRL
                writer.write(c, ln)
                run -= 16
            s, bits = _magnitude(v)
            c, ln = ac_codes[(run << 4) | s]
            writer.write(c, ln)
            writer.write(bits, s)
            run = 0
        if run:
            c, ln = ac_codes[0x00]  # EOB
            writer.write(c, ln)
    return dc_pred


def encode_jpeg_baseline(
    img: np.ndarray,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
    grayscale: bool = False,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB as a baseline JFIF JPEG with the spec
    Annex K tables. ``subsample`` is '4:4:4' or '4:2:0';
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs; ``grayscale`` writes a 1-component luma-only stream. Minimal
    by design — it exists so decode_jpeg can be round-trip-tested
    without PIL or vendored binaries."""
    if subsample not in ("4:4:4", "4:2:0"):
        raise ValueError("subsample must be '4:4:4' or '4:2:0'")
    h, w = img.shape[:2]
    sub = 1 if grayscale else (2 if subsample == "4:2:0" else 1)
    mcu = 8 * sub
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    pad = np.empty((ph, pw, 3), dtype=np.uint8)
    pad[:h, :w] = img
    pad[h:, :w] = img[h - 1 : h, :w]
    pad[:, w:] = pad[:, w - 1 : w]
    rgb = pad.astype(np.float32)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if sub == 2:
        cb = cb.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))

    # Annex K tables are presented in natural (row-major) order; both
    # the DQT segment and our scan-ordered quantization need them in
    # zigzag order
    ql = _K1_LUMA[_ZIGZAG]
    qc = _K1_CHROMA[_ZIGZAG]
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    qsegs = ((0, ql),) if grayscale else ((0, ql), (1, qc))
    for tq, tbl in qsegs:
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(int(v) for v in tbl)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    nc = 1 if grayscale else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    out += bytes([1, (sub << 4) | sub, 0])  # Y
    if not grayscale:
        out += bytes([2, 0x11, 1])  # Cb
        out += bytes([3, 0x11, 1])  # Cr
    hsegs = (
        ((0, 0, _K3_DC_LUMA), (1, 0, _K3_AC_LUMA))
        if grayscale
        else (
            (0, 0, _K3_DC_LUMA),
            (1, 0, _K3_AC_LUMA),
            (0, 1, _K3_DC_CHROMA),
            (1, 1, _K3_AC_CHROMA),
        )
    )
    for tc, th, (bits, vals) in hsegs:
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + sum(bits), (tc << 4) | th
        ) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    out += bytes([1, 0x00])
    if not grayscale:
        out += bytes([2, 0x11, 3, 0x11])
    out += bytes([0, 63, 0])

    dc_l = _enc_codes(_K3_DC_LUMA)
    ac_l = _enc_codes(_K3_AC_LUMA)
    dc_c = _enc_codes(_K3_DC_CHROMA)
    ac_c = _enc_codes(_K3_AC_CHROMA)
    writer = _BitWriter()
    pred = {"y": 0, "cb": 0, "cr": 0}
    mcux, mcuy = pw // mcu, ph // mcu
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            writer.flush()
            writer.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            pred = {"y": 0, "cb": 0, "cr": 0}
        my, mx = divmod(m, mcux)
        yb = []
        for by in range(sub):
            for bx in range(sub):
                y0, x0 = my * mcu + by * 8, mx * mcu + bx * 8
                yb.append(y[y0 : y0 + 8, x0 : x0 + 8])
        pred["y"] = _encode_blocks(
            writer, np.stack(yb), ql, dc_l, ac_l, pred["y"]
        )
        if grayscale:
            continue
        cy, cx = my * 8, mx * 8
        pred["cb"] = _encode_blocks(
            writer, cb[cy : cy + 8, cx : cx + 8][None], qc, dc_c, ac_c,
            pred["cb"],
        )
        pred["cr"] = _encode_blocks(
            writer, cr[cy : cy + 8, cx : cx + 8][None], qc, dc_c, ac_c,
            pred["cr"],
        )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
