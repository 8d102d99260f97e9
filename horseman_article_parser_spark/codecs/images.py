"""Pure-python image codecs for the image+caption payload table.

The container ships no image libraries (no PIL/opencv), so per the build
brief the *decode* step for real-world formats is stubbed while the
Spark-side plumbing (binary columns, Arrow batches, pandas-UDF
signatures) is real and tested:

- ``png``  — a REAL minimal PNG codec (RGB8, zlib stdlib). Lossless:
  decode(encode(x)) == x exactly.
- ``jpeg`` — REAL baseline JPEG as of round 4 (``codecs/jpeg.py``: pure
  numpy huffman+DCT encoder/decoder; SOI bytes decode for real, the old
  NotImplementedError stub is gone). The deterministic quantize+deflate
  ``QJPG`` container from rounds 1-3 remains decode-able (legacy
  payloads + a fast lossy stand-in for tests), but the datagen now emits
  real JPEG for its lossy rows.

Reference parity: the reference captures JPEG screenshots at quality 40
(/root/reference/index.js:758) and its tests decode them pixel-wise
(/root/reference/tests/parseArticle.test.js:118-123); codecs/jpeg.py
round-trips that exact quality and tests/test_codecs.py pins it, while
the payload table's PSNR≥40dB allclose check is the columnar
restatement of the pixel assertion.
"""

from __future__ import annotations

import struct
import zlib
from binascii import crc32

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_QJPG_MAGIC = b"QJPG"
_JPEG_SOI = b"\xff\xd8"

DEFAULT_LOSSY_STEP = 4  # quantization step → PSNR ≈ 20*log10(255/sqrt(q²/12)) ≈ 46.9 dB


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a real RGB8 PNG."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    # filter byte 0 (None) per scanline
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b"")


def _decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack_from(">IIBB", payload)
            if bit_depth != 8 or color_type != 2:
                raise NotImplementedError("minimal PNG decoder: RGB8 only")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    if not (raw[:, 0] == 0).all():
        raise NotImplementedError("minimal PNG decoder: filter type 0 only")
    return raw[:, 1:].reshape(h, w, 3).copy()


def encode_lossy(pixels: np.ndarray) -> bytes:
    """Deterministic lossy codec (QJPG container): quantize + deflate."""
    step = DEFAULT_LOSSY_STEP
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_lossy expects (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    q = (pixels.astype(np.uint16) + step // 2) // step  # round-to-nearest bucket
    header = _QJPG_MAGIC + struct.pack(">HHB", w, h, step)
    return header + zlib.compress(q.astype(np.uint8).tobytes(), 6)


def _decode_lossy(data: bytes) -> np.ndarray:
    w, h, step = struct.unpack_from(">HHB", data, 4)
    q = np.frombuffer(zlib.decompress(data[9:]), dtype=np.uint8).reshape(h, w, 3)
    return np.minimum(q.astype(np.uint16) * step, 255).astype(np.uint8)


def decode_image(data: bytes) -> np.ndarray:
    """Decode a payload-table `bytes` cell to an (h, w, 3) uint8 array.

    Dispatches on magic bytes: PNG (real minimal codec here), QJPG (the
    legacy deterministic lossy container, kept decode-able), and REAL
    baseline JPEG via codecs.jpeg (round 4 — replaces the former
    NotImplementedError stub; huffman+IDCT, pure numpy)."""
    if data.startswith(_PNG_SIG):
        return _decode_png(data)
    if data.startswith(_QJPG_MAGIC):
        return _decode_lossy(data)
    if data.startswith(_JPEG_SOI):
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    raise ValueError("unknown image container")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    if a.shape != b.shape:
        raise ValueError(f"shape mismatch {a.shape} vs {b.shape}")
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: 8×8 block-mean / median-threshold over
    the luma plane.

    Deliberately the mean-pool variant rather than the classic DCT
    pHash: a DCT/median hash was implemented and MEASURED on this
    corpus — synthetic periodic patterns (color bands, tiled noise)
    have near-flat low-frequency spectra, so 50+ of the 64 DCT
    coefficients sit at ~0 ≈ the median and their bits flip on any
    re-encode (18-bit drift under the q=4 lossy roundtrip, vs ≤2 bits
    for this hash). Spatial block means stay far from the threshold on
    exactly those images, which is what the ≤6-Hamming near-dup join
    and the decode-recheck invariant need.

    Deterministic, numpy-only; used for the `phash` column of the
    payload table (BASELINE.json input_hint), video-frame hashes, and
    the near-duplicate Hamming joins.
    """
    luma = (
        0.299 * pixels[:, :, 0] + 0.587 * pixels[:, :, 1] + 0.114 * pixels[:, :, 2]
    )
    h, w = luma.shape
    # average-pool to 8x8 via integral-style block means
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = luma[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    bits = (blocks > np.median(blocks)).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    # fold into signed int64 range for Spark LongType
    return val - (1 << 64) if val >= (1 << 63) else val
