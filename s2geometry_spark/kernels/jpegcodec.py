"""Pure-NumPy/stdlib baseline JPEG (JFIF) codec — REAL interchange
format, no libjpeg/PIL.

Encoder writes a spec-compliant baseline sequential JFIF file: YCbCr
4:4:4 (no subsampling), 8-bit, ITU-T T.81 Annex K quantization tables
scaled by the libjpeg quality convention, Annex K Huffman tables,
interleaved single scan, 0xFF byte stuffing.  Decoder parses the real
marker structure (DQT/SOF0/DHT/SOS, tables read FROM the stream — it
decodes any baseline 4:4:4 JPEG, not just its own output).

This fills the engine's fmt="jpeg" slot so the north rule's lossy
PSNR >= 40 dB invariant runs over a genuine interchange format (the
reference analogue: the geotagged image payloads S2 queries tile and
join; reference repo has no codecs — this is engine-side plumbing).

The mass of the work (color transform, DCT, quantization, zigzag) is
vectorized over all blocks at once; only the entropy coding walks
blocks in Python, which is fine for the thumbnail-scale payloads the
pipeline ships (and honest about where a C codec would slot in).
"""

from __future__ import annotations

import functools
import struct

import numpy as np

__all__ = ["encode_jpeg", "decode_jpeg", "JPEG_SIG"]

JPEG_SIG = b"\xff\xd8"

# ITU-T T.81 Annex K.1 — base quantization tables (natural order)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], np.int32)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], np.int32)

# zigzag: ZIGZAG[k] = natural index of the k-th zigzag coefficient.
# T.81 Figure A.6 order: within an anti-diagonal (u+v == const), ODD
# diagonals run top-right -> bottom-left (increasing row u), EVEN ones
# the reverse — so the secondary key is u on odd diagonals, v on even.
# (The previous key was transposed, which round-trips internally but
# emits files an external decoder reconstructs block-transposed.)
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((u, v) for u in range(8) for v in range(8)),
        key=lambda t: (t[0] + t[1], t[0] if (t[0] + t[1]) % 2 else t[1]),
    )
    return np.array([u * 8 + v for u, v in order], np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.3 Huffman specs: (bits[1..16], values)
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
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
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
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


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality convention (jcparam.c, public API semantics)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (base * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int32)


def _huff_codes(spec) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: value -> (code, length)."""
    bits, values = spec
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DCT_M = None


def _dct_matrix() -> np.ndarray:
    global _DCT_M
    if _DCT_M is None:
        x = np.arange(8)
        u = x[:, None]
        M = 0.5 * np.cos((2 * x[None, :] + 1) * u * np.pi / 16.0)
        M[0, :] *= 1.0 / np.sqrt(2.0)
        _DCT_M = M
    return _DCT_M


def _rgb_to_ycbcr(p: np.ndarray) -> np.ndarray:
    p = p.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _blocks(chan: np.ndarray) -> np.ndarray:
    """(h, w) -> (nby*nbx, 8, 8) edge-replicated to block multiples."""
    h, w = chan.shape
    H, W = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    pad = np.empty((H, W), np.float64)
    pad[:h, :w] = chan
    pad[h:, :w] = chan[-1:, :]
    pad[:h, w:] = pad[:h, w - 1 : w]
    pad[h:, w:] = pad[h - 1, w - 1]
    return (
        pad.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)


def encode_jpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes (YCbCr 4:4:4)."""
    pixels = np.asarray(pixels, np.uint8)
    h, w, _ = pixels.shape
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    M = _dct_matrix()
    ycc = _rgb_to_ycbcr(pixels)
    comp_q = []
    for c, qt in ((0, ql), (1, qc), (2, qc)):
        blk = _blocks(ycc[..., c] - 128.0)
        F = np.einsum("ux,nxy,vy->nuv", M, blk, M)
        q = np.round(F / qt.reshape(8, 8)).astype(np.int32)
        comp_q.append(q.reshape(-1, 64)[:, ZIGZAG])
    nb = comp_q[0].shape[0]

    dc_l, dc_c = _huff_codes(DC_LUMA_SPEC), _huff_codes(DC_CHROMA_SPEC)
    ac_l, ac_c = _huff_codes(AC_LUMA_SPEC), _huff_codes(AC_CHROMA_SPEC)
    tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    for b in range(nb):
        for c in range(3):
            zz = comp_q[c][b]
            dct_tab, ac_tab = tables[c]
            diff = int(zz[0]) - prev_dc[c]
            prev_dc[c] = int(zz[0])
            s = _size_cat(diff)
            code, ln = dct_tab[s]
            bw.put(code, ln)
            if s:
                bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
            run = 0
            nz = np.flatnonzero(zz[1:])
            pos = 0
            for k in nz:
                k = int(k)
                run = k - pos
                while run >= 16:
                    zcode, zlen = ac_tab[0xF0]
                    bw.put(zcode, zlen)
                    run -= 16
                v = int(zz[1 + k])
                s = _size_cat(v)
                code, ln = ac_tab[(run << 4) | s]
                bw.put(code, ln)
                bw.put(v if v > 0 else v + (1 << s) - 1, s)
                pos = k + 1
            if pos < 63:
                code, ln = ac_tab[0x00]  # EOB
                bw.put(code, ln)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def dht(cls: int, tid: int, spec) -> bytes:
        bits, values = spec
        return bytes([cls << 4 | tid]) + bytes(bits) + bytes(values)

    out = bytearray(JPEG_SIG)
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(ql[ZIGZAG].astype(np.uint8)))
    out += seg(0xDB, b"\x01" + bytes(qc[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, qid in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, qid])  # 1x1 sampling = 4:4:4
    out += seg(0xC0, sof)
    out += seg(0xC4, dht(0, 0, DC_LUMA_SPEC))
    out += seg(0xC4, dht(1, 0, AC_LUMA_SPEC))
    out += seg(0xC4, dht(0, 1, DC_CHROMA_SPEC))
    out += seg(0xC4, dht(1, 1, AC_CHROMA_SPEC))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


@functools.lru_cache(maxsize=8)
def _huff_lut(bits: bytes, values: bytes):
    """(value, length) lookup over every 16-bit window: a canonical code
    of length L occupies the 2^(16-L) windows it prefixes.  One array
    index decodes a symbol: canonical codes are prefix-free, so every
    window starts with at most one code.

    Memoized on the DHT table's raw bytes: a stream's four tables are
    usually the ones the previous image used, and each costs two
    65,536-entry tuples to build."""
    val = np.zeros(65536, np.int32)
    ln = np.zeros(65536, np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            span = 1 << (16 - length)
            val[base : base + span] = values[k]
            ln[base : base + span] = length
            code += 1
            k += 1
        code <<= 1
    return tuple(val.tolist()), tuple(ln.tolist())


# Worst case one 8x8 block can consume from the entropy stream: DC code
# (<=16) + DC magnitude (<=11) + 63 AC codes (<=16 each) + AC magnitudes
# (<=10 each) = 27 + 63*26 = 1665 bits; rounded up.  The window array is
# padded this far past the real bits so every read inside a block whose
# START was in-bounds stays in-bounds (truncation is then detected at the
# next block start, never as an IndexError).
_MAX_BLOCK_BITS = 1728
# Above this many scan bits the windows stay a uint32 ndarray instead of
# a Python int list: the list costs ~200 bytes per scan bit (fine for the
# small tiles/thumbnails this engine stores, a blowup for multi-MB scans).
_LIST_WINDOW_MAX_BITS = 1 << 23


def _entropy_windows(data: bytes):
    """De-stuffed scan bits as per-bit-position 16-bit windows.

    Byte rules (T.81 byte stuffing): 0xFF 0x00 unstuffs to 0xFF, the
    first 0xFF followed by any other byte is a marker and ends the
    stream, and reads past the end see all-ones padding (the spec's pad
    bits).  Returns (w, n_bits) where w[p] = the 16 bits starting at bit
    p — a plain list for small scans (fastest to index from the symbol
    loop), a uint32 ndarray for scans over _LIST_WINDOW_MAX_BITS
    (identical indexing, bounded memory) — and n_bits = the number of
    real (unpadded) scan bits."""
    arr = np.frombuffer(data, np.uint8)
    ff = np.nonzero(arr[:-1] == 0xFF)[0]
    marker_ff = ff[arr[ff + 1] != 0x00]
    end = int(marker_ff[0]) if len(marker_ff) else len(arr)
    body = arr[:end]
    stuffed = np.nonzero((body[:-1] == 0xFF) & (body[1:] == 0x00))[0] + 1
    clean = np.delete(body, stuffed) if len(stuffed) else body
    bits_arr = np.unpackbits(clean)
    n = len(bits_arr)
    pad = np.concatenate([bits_arr, np.ones(_MAX_BLOCK_BITS + 16, np.uint8)])
    w = np.zeros(n + _MAX_BLOCK_BITS, np.uint32)
    for i in range(16):
        w += pad[i : i + n + _MAX_BLOCK_BITS].astype(np.uint32) << (15 - i)
    return (w.tolist() if n <= _LIST_WINDOW_MAX_BITS else w), n


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline 4:4:4 JFIF bytes -> (h, w, 3) uint8 RGB.  Parses the
    real marker structure; tables come from the stream."""
    if buf[:2] != JPEG_SIG:
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = 0
    comp_q: list[int] = []
    scan_tabs: list[tuple[int, int]] = []
    data_start = None
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        ln = struct.unpack_from(">H", buf, pos)[0]
        payload = buf[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                if prec_id >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.frombuffer(payload, np.uint8, 64, p + 1).astype(np.int32)
                quant[prec_id & 0xF] = tbl[UNZIGZAG]
                p += 65
        elif marker == 0xC0:
            _, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if nc != 3:
                raise ValueError("only 3-component JPEG supported")
            for c in range(nc):
                cid, samp, qid = payload[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("only 4:4:4 (1x1 sampling) supported")
                comp_q.append(qid)
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                cls_id = payload[p]
                bits = bytes(payload[p + 1 : p + 17])
                nvals = sum(bits)
                values = bytes(payload[p + 17 : p + 17 + nvals])
                huff[(cls_id >> 4, cls_id & 0xF)] = _huff_lut(bits, values)
                p += 17 + nvals
        elif marker == 0xDA:
            ns = payload[0]
            for c in range(ns):
                _cid, tt = payload[1 + 2 * c : 3 + 2 * c]
                scan_tabs.append((tt >> 4, tt & 0xF))
            data_start = pos
            break
    if data_start is None:
        raise ValueError("no SOS in JPEG")
    win, n_bits = _entropy_windows(buf[data_start:])
    M = _dct_matrix()
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    chans = np.empty((3, nby * 8, nbx * 8), np.float64)
    prev_dc = [0, 0, 0]
    tabs = [
        (huff[(0, scan_tabs[c][0])], huff[(1, scan_tabs[c][1])])
        for c in range(3)
    ]
    p = 0
    # all-blocks coefficient buffer: one vectorized dequant + IDCT pass
    # afterwards instead of one 8x8 matmul pair per block
    coeffs = np.zeros((nby * nbx * 3, 64), np.int32)
    for b in range(nby * nbx * 3):
        c = b % 3
        (dc_val, dc_len), (ac_val, ac_len) = tabs[c]
        # a block start at/past the real bits means the stream ran dry
        # (reads WITHIN a block are covered by the _MAX_BLOCK_BITS pad)
        if p >= n_bits:
            raise ValueError("JPEG entropy stream truncated")
        zz = coeffs[b]
        wv = win[p]
        s = dc_val[wv]
        l = dc_len[wv]
        if l == 0:
            raise ValueError("invalid Huffman code in JPEG stream")
        p += l
        if s:
            diff = _extend(win[p] >> (16 - s), s)
            p += s
        else:
            diff = 0
        prev_dc[c] += diff
        zz[0] = prev_dc[c]
        k = 1
        while k < 64:
            wv = win[p]
            rs = ac_val[wv]
            l = ac_len[wv]
            if l == 0:
                raise ValueError("invalid Huffman code in JPEG stream")
            p += l
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC run past block end")
            zz[k] = _extend(win[p] >> (16 - s), s)
            p += s
            k += 1
    # dequant + IDCT for all blocks at once: F blocks (nb, 8, 8) =
    # M.T @ (zz[UNZIGZAG] * q) @ M via one einsum
    qs = np.stack([quant[comp_q[c]] for c in range(3)])  # (3, 64)
    nb = nby * nbx * 3
    fmat = (coeffs[:, UNZIGZAG] * np.tile(qs, (nby * nbx, 1))).reshape(nb, 8, 8)
    # two batched matmuls, same association as the per-block M.T @ F @ M
    # (bitwise-identical reduction order to the scalar path)
    blocks = np.matmul(np.matmul(M.T, fmat.astype(np.float64)), M) + 128.0
    grid = blocks.reshape(nby, nbx, 3, 8, 8)
    for c in range(3):
        chans[c] = (
            grid[:, :, c].transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        )
    y = chans[0, :h, :w]
    cb = chans[1, :h, :w] - 128.0
    cr = chans[2, :h, :w] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------- MJPEG-style container: concatenated JFIF frames ----------
# The rawest real video interchange format there is: an .mjpg stream is
# just complete baseline JPEGs back to back (what MJPEG-in-AVI/MOV
# stores per frame, minus the RIFF index).  Using it makes
# sample_video_frames exercise a real marker-parsing demuxer end to end
# with zero new dependencies.


def frame_extent(buf: bytes, start: int = 0) -> int:
    """End offset (one past EOI) of the JPEG frame starting at ``start``.

    Walks the marker segments to SOS, then scans the entropy-coded data
    for the first 0xFF followed by a byte that is neither a stuffed 0x00
    nor a restart marker (0xD0-0xD7) — in a baseline stream that marker
    must be EOI."""
    if buf[start : start + 2] != JPEG_SIG:
        raise ValueError("not a JPEG frame (missing SOI)")
    pos = start + 2
    n = len(buf)
    while pos < n:
        if buf[pos] != 0xFF:
            raise ValueError("marker expected in JPEG frame header")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # empty frame (no scan) — still well-formed
            return pos
        ln = struct.unpack_from(">H", buf, pos)[0]
        seg_end = pos + ln
        if marker == 0xDA:
            pos = seg_end
            while pos + 1 < n:
                if buf[pos] == 0xFF and buf[pos + 1] != 0x00 and not (
                    0xD0 <= buf[pos + 1] <= 0xD7
                ):
                    if buf[pos + 1] != 0xD9:
                        raise ValueError(
                            f"unexpected marker 0x{buf[pos + 1]:02x} in scan"
                        )
                    return pos + 2
                pos += 1
            raise ValueError("JPEG frame missing EOI")
        pos = seg_end
    raise ValueError("JPEG frame missing SOS/EOI")


def frame_offsets(buf: bytes) -> list[tuple[int, int]]:
    """All (start, end) frame extents in an MJPEG payload — the demux
    index.  Walking extents touches only marker headers plus a byte scan
    of the entropy data; it never runs the Huffman/DCT pipeline, so a
    frame sampler can index frames and decode ONLY the ones it keeps."""
    offsets = []
    pos = 0
    while pos < len(buf):
        end = frame_extent(buf, pos)
        offsets.append((pos, end))
        pos = end
    if not offsets:
        raise ValueError("empty MJPEG payload")
    return offsets


def encode_mjpeg(frames: np.ndarray, quality: int = 90) -> bytes:
    """(n, h, w, 3) uint8 RGB -> concatenated baseline JFIF frames."""
    frames = np.asarray(frames, np.uint8)
    return b"".join(encode_jpeg(f, quality) for f in frames)


def decode_mjpeg(buf: bytes) -> np.ndarray:
    """Concatenated JFIF frames -> (n, h, w, 3) uint8 RGB.  All frames
    must share one geometry (the operator contract for a frame stack)."""
    frames = [decode_jpeg(buf[s:e]) for s, e in frame_offsets(buf)]
    shapes = {f.shape for f in frames}
    if len(shapes) > 1:
        raise ValueError(f"non-uniform frame geometry: {sorted(shapes)}")
    return np.stack(frames)
