"""Deterministic image codecs, perceptual hash and pixel metrics.

The sandbox has no PIL/libjpeg, so the engine ships self-contained
codecs: three synthetic ones with the same *shape* as real formats
(raw/rle/qnt: header + payload, lossless and lossy variants) plus two
REAL interchange formats — PNG (stdlib zlib writer + full-defilter
reader, below) and baseline JFIF JPEG (kernels.jpegcodec: NumPy DCT +
Annex K tables + canonical Huffman, spec-compliant marker structure).
The Spark-side plumbing — binary column, batch decode inside
``mapInPandas``, PSNR invariant — is identical for all of them.

Formats
-------
``raw``  lossless: header + C-order RGB uint8.
``rle``  lossless: header + byte-level run-length encoding.
``qnt``  lossy: header + 6-bit/channel quantization.  Uniform step-4
         quantization has MSE ≤ (4²-1)/12 + 0.25 ≈ 1.5 → PSNR ≈ 46.4 dB,
         comfortably above the 40 dB per-row invariant the north rule
         requires for lossy formats.

Header layout (little-endian): magic ``b"S2I"`` + fmt code u8 + w u16 + h u16.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"S2I"
_HDR = struct.Struct("<3sBHH")
FMT_CODES = {"raw": 0, "rle": 1, "qnt": 2}
FMT_NAMES = {v: k for k, v in FMT_CODES.items()}
LOSSLESS = {"raw", "rle", "png"}
PSNR_MIN_DB = 40.0


# ---------- payload transforms ----------


def _rle_encode(flat: np.ndarray) -> bytes:
    """Byte RLE: (count u8, value u8) pairs, runs capped at 255."""
    if flat.size == 0:
        return b""
    change = np.flatnonzero(np.diff(flat)) + 1
    starts = np.concatenate(([0], change))
    lengths = np.diff(np.concatenate((starts, [flat.size])))
    vals = flat[starts]
    # split runs > 255
    reps = (lengths + 254) // 255
    out_vals = np.repeat(vals, reps)
    out_lens = np.repeat(np.full(vals.shape, 255, np.int64), reps)
    last_idx = np.cumsum(reps) - 1
    rem = lengths - (reps - 1) * 255
    out_lens[last_idx] = rem
    pairs = np.empty((out_vals.size, 2), np.uint8)
    pairs[:, 0] = out_lens.astype(np.uint8)
    pairs[:, 1] = out_vals.astype(np.uint8)
    return pairs.tobytes()


def _rle_decode(payload: bytes, n: int) -> np.ndarray:
    pairs = np.frombuffer(payload, np.uint8).reshape(-1, 2)
    out = np.repeat(pairs[:, 1], pairs[:, 0].astype(np.int64))
    if out.size != n:
        raise ValueError(f"rle payload decodes to {out.size} bytes, expected {n}")
    return out


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: (h, w, 3) uint8 -> format bytes."""
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        # REAL baseline JFIF (kernels.jpegcodec).  q=98: the synthetic
        # pixels carry near-white hashed noise, the hardest content for
        # a DCT codec; 98 keeps every generator image >= ~43 dB, above
        # the north rule's 40 dB lossy floor with margin.
        from .jpegcodec import encode_jpeg

        return encode_jpeg(pixels, quality=98)
    h, w, _ = pixels.shape
    hdr = _HDR.pack(MAGIC, FMT_CODES[fmt], w, h)
    flat = pixels.reshape(-1)
    if fmt == "raw":
        return hdr + flat.tobytes()
    if fmt == "rle":
        return hdr + _rle_encode(flat)
    if fmt == "qnt":
        return hdr + (flat >> 2).tobytes()  # 6-bit code per channel
    raise NotImplementedError(f"encode: unknown fmt {fmt!r}")


def decode(buf: bytes) -> tuple[np.ndarray, str]:
    """format bytes -> ((h, w, 3) uint8 pixels, fmt name)."""
    if buf[:8] == PNG_SIG:
        return decode_png(buf), "png"
    if buf[:2] == b"\xff\xd8":
        from .jpegcodec import decode_jpeg

        return decode_jpeg(buf), "jpeg"
    magic, code, w, h = _HDR.unpack_from(buf)
    if magic != MAGIC:
        raise ValueError("bad magic — not an S2I image")
    fmt = FMT_NAMES[code]
    payload = buf[_HDR.size :]
    n = h * w * 3
    if fmt == "raw":
        flat = np.frombuffer(payload, np.uint8, n)
    elif fmt == "rle":
        flat = _rle_decode(payload, n)
    elif fmt == "qnt":
        codes = np.frombuffer(payload, np.uint8, n).astype(np.uint16)
        # mid-rise reconstruction: code*4 + 1 ∈ [1, 253]; |err| ≤ 2
        flat = np.minimum(codes * 4 + 1, 255).astype(np.uint8)
    else:  # pragma: no cover
        raise NotImplementedError(fmt)
    return flat.reshape(h, w, 3), fmt


# ---------- PNG (pure stdlib: zlib + struct) ----------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal REAL PNG writer: 8-bit truecolor (color type 2), filter 0
    scanlines, one zlib IDAT.  Readable by any PNG decoder."""
    import zlib

    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # filter byte 0 (None) before every scanline
    raw = np.empty((h, 1 + w * 3), np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(buf: bytes) -> np.ndarray:
    """Real PNG reader for 8-bit truecolor / truecolor+alpha (alpha
    dropped), non-interlaced: parses chunks, verifies CRCs, inflates
    IDAT, reverses all five scanline filters (None/Sub/Up/Average/
    Paeth, PNG spec 9.2)."""
    import zlib

    if buf[:8] != PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    w = h = None
    channels = 3
    idat = bytearray()
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype not in (2, 6) or interlace != 0:
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG supported"
                )
            channels = 3 if ctype == 2 else 4
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    stride = 1 + w * channels
    raw = raw.reshape(h, stride)
    bpp = channels
    out = np.zeros((h, w * channels), np.uint8)
    prev = np.zeros(w * channels, np.int64)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub (sequential in x)
            cur = line.copy()
            for i in range(bpp, cur.size):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for i in range(cur.size):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for i in range(cur.size):
                left = int(cur[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                ul = int(prev[i - bpp]) if i >= bpp else 0
                cur[i] = (cur[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, channels)
    return px[:, :, :3].copy() if channels == 4 else px


# ---------- metrics ----------


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; np.inf for identical images."""
    d = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(d * d))
    if mse == 0.0:
        return float(np.inf)
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash: 8x8 block-mean luma, bit = mean-luma > global mean.

    Deterministic pure-integer thresholding; the per-image metadata key
    used by the geotag (signed int64 for the Spark LongType column).
    """
    h, w, _ = pixels.shape
    p = pixels.astype(np.uint32)
    # ITU-R 601 integer luma (x256)
    luma = 77 * p[:, :, 0] + 150 * p[:, :, 1] + 29 * p[:, :, 2]
    # crop to multiples of 8 then 8x8 block means
    hh, ww = (h // 8) * 8 or h, (w // 8) * 8 or w
    if h >= 8 and w >= 8:
        lb = luma[: (h // 8) * 8, : (w // 8) * 8]
        blocks = lb.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    else:  # tiny image: tile it up
        reps = (max(1, -(-8 // h)), max(1, -(-8 // w)))
        lt = np.tile(luma, reps)[:8, :8]
        blocks = lt.astype(np.float64)
    bits = (blocks > blocks.mean()).reshape(-1)
    val = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))  # reinterpret as signed for LongType


# ---------- deterministic pixel synthesis ----------

_U64 = np.uint64


def gen_pixels(idx: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 pixels for image row ``idx``.

    Smooth gradient + hashed noise: compressible enough that ``rle``
    differs from ``raw``, busy enough that ``qnt`` is genuinely lossy.
    """
    from .geotag import splitmix64

    seed = splitmix64(np.asarray([idx], np.uint64))[0]
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 7 + yy * 13 + int(seed & _U64(0xFF))) % 256).astype(np.uint8)
    with np.errstate(over="ignore"):  # uint64 wraparound is intended
        noise_src = splitmix64(
            seed * _U64(0x100000001) + np.arange(h * w, dtype=np.uint64)
        )
    noise = (noise_src & _U64(0x1F)).astype(np.uint8).reshape(h, w)  # 0..31
    r = base + noise
    g = (base[::-1, :] + (noise >> 1)).astype(np.uint8)
    b = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (h, w, 3) -> (out_h, out_w, 3) — real
    implementation (index arithmetic only, no external imaging libs);
    deterministic, so resized outputs are oracle-able by recomputation."""
    p = np.asarray(pixels)
    h, w = p.shape[0], p.shape[1]
    yi = (np.arange(out_h) * h) // out_h
    xi = (np.arange(out_w) * w) // out_w
    return p[yi[:, None], xi[None, :]]


def frame_sample_indices(n_frames: int, every: int) -> np.ndarray:
    """Deterministic frame sampling for a video-like payload: frames
    0, every, 2*every, ... (the plumbing contract; a real container
    demuxer slots in behind decode_video below)."""
    return np.arange(0, max(n_frames, 0), max(every, 1), dtype=np.int64)


VIDEO_JPEG_QUALITY = 98  # same bar as the still-image jpeg path (PSNR>=40)


def encode_video(frames: np.ndarray, quality: int = VIDEO_JPEG_QUALITY) -> bytes:
    """(n, h, w, 3) uint8 RGB -> MJPEG-style container (concatenated
    baseline JFIF frames, kernels.jpegcodec.encode_mjpeg)."""
    from .jpegcodec import encode_mjpeg

    return encode_mjpeg(frames, quality)


def decode_video(buf: bytes) -> np.ndarray:
    """Video container bytes -> (n_frames, h, w, 3) uint8 RGB.

    REAL for MJPEG-style payloads (concatenated baseline JFIF frames):
    the demuxer walks the actual marker structure per frame
    (kernels.jpegcodec.frame_extent/decode_mjpeg).  Other containers
    (MP4/H.264 etc.) need codec libraries absent from this sandbox and
    raise NotImplementedError — the dataflow above this call is
    container-agnostic."""
    from .jpegcodec import JPEG_SIG, decode_mjpeg

    if bytes(buf[:2]) != JPEG_SIG:
        raise NotImplementedError(
            "only MJPEG-style (concatenated JFIF) containers are decodable "
            "in this sandbox; other codecs need an external library"
        )
    return decode_mjpeg(buf)


def video_frame_count(buf: bytes) -> int:
    """Number of frames in an MJPEG container (extent walk, no decode)."""
    from .jpegcodec import frame_offsets

    return len(frame_offsets(buf))


def decode_video_frames(
    buf: bytes, indices: np.ndarray
) -> list[tuple[int, np.ndarray]]:
    """Selective demux: decode ONLY the requested frame indices of an
    MJPEG-style container.  The extent walk indexes frame boundaries
    without entering the Huffman/DCT pipeline, so sampling every k-th
    frame costs one byte scan plus 1/k of the decode work — the reason a
    frame sampler over 100 TB of video wants a real container, not a raw
    frame stack."""
    from .jpegcodec import JPEG_SIG, decode_jpeg, frame_offsets

    if bytes(buf[:2]) != JPEG_SIG:
        raise NotImplementedError(
            "only MJPEG-style (concatenated JFIF) containers are decodable "
            "in this sandbox; other codecs need an external library"
        )
    offsets = frame_offsets(buf)
    out = []
    for f in indices:
        s, e = offsets[int(f)]
        out.append((int(f), decode_jpeg(buf[s:e])))
    return out


def _phash_block_bits(pixels: np.ndarray) -> np.ndarray:
    """8x8 boolean block grid of phash64's decision, computed from EXACT
    integer luma block sums: each block's mean and the global mean are
    single divisions of orientation-invariant integer totals, so for
    images whose dimensions are multiples of 8 the grid of a rotated or
    mirrored image is exactly the rotated/mirrored grid (no float
    summation-order dependence)."""
    h, w, _ = pixels.shape
    p = pixels.astype(np.uint64)
    luma = 77 * p[:, :, 0] + 150 * p[:, :, 1] + 29 * p[:, :, 2]
    bh, bw = max(1, h // 8), max(1, w // 8)
    lb = luma[: bh * 8, : bw * 8]
    s = lb.reshape(8, bh, 8, bw).sum(axis=(1, 3))
    bm = s.astype(np.float64) / float(bh * bw)
    g = float(s.sum()) / float(64 * bh * bw)
    return bm > g


def phash64_canon(pixels: np.ndarray) -> int:
    """Dihedral-invariant perceptual hash: the minimum packed value of
    the 8x8 block-bit grid over all 8 rotations/reflections.  For
    multiple-of-8 dimensions, canon(transform(img)) == canon(img)
    EXACTLY for every dihedral transform — the key a rotated/mirrored
    near-dup join groups on."""
    bits = _phash_block_bits(pixels)
    best = None
    g = bits
    for _ in range(4):
        for gg in (g, g[:, ::-1]):
            v = int.from_bytes(
                np.packbits(gg.reshape(-1), bitorder="little").tobytes(),
                "little",
            )
            if best is None or v < best:
                best = v
        g = np.rot90(g)
    return int(np.uint64(best).astype(np.int64))


def dihedral_transform(pixels: np.ndarray, k: int) -> np.ndarray:
    """The k-th element of the dihedral group D4 acting on the pixel
    grid: k%4 quarter-turns, then a horizontal mirror if k >= 4."""
    t = np.rot90(pixels, k % 4)
    if k >= 4:
        t = t[:, ::-1]
    return np.ascontiguousarray(t)
