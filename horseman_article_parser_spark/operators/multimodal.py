"""Multimodal (image/audio/video) column operators: opaque `binary`
payloads + typed metadata. Each payload is decoded by a per-row
function behind an Arrow UDF (BASELINE.json input_hint), so only
`bytes` crosses into Python and the metadata columns stay in the JVM.

The payload table is exactly the input_hint shape:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash bigint)

The reference's analogue is the screenshot JPEG + `article.images[]`
metadata (/root/reference/index.js:755-775, 1014-1181); here the binary
payload is a first-class column and the per-row invariant is decoded-
pixel PSNR≥40dB + caption equality (verified in tests/test_images_table.py
and tests/test_av.py).

Decode dispatch is real numpy for PNG, baseline JPEG
(codecs/jpeg.py huffman+DCT — SOI bytes decode for real), the legacy
QJPG container, PCM WAV audio, and the HVID frame container; remaining
compressed formats (mp3, h264, progressive JPEG) stay honest
NotImplementedError stubs — the Spark plumbing (schema, partitioning,
UDF signature) is identical either way and fully tested.

Scale rules encoded here:
- `bytes` never enters a shuffle: kernels run as narrow projections
  over the scan; joins happen on `image_id` AFTER features are extracted
  (SURVEY §7.3 "keep bytes out of shuffles, join back late").
- Metadata-only queries never touch `bytes`: Parquet column pruning does
  the work, see `tests/test_images_table.py::test_bytes_pruned_from_metadata_scans`.
- Arrow batches stay bounded via spark.sql.execution.arrow.maxRecordsPerBatch
  (session.py) because one batch holds ~2048 × bytes cells.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..codecs.audio import decode_wav
from ..codecs.images import decode_image, phash64
from ..codecs.video import decode_frames

IMAGE_STATS_STRUCT = T.StructType(
    [
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("std_luma", T.DoubleType()),
        T.StructField("phash_check", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def image_stats(data: bytes | None) -> dict:
    """Decode one payload → per-channel means, luma std and the pHash
    recomputed from the pixels. A corrupt payload gives null stats and
    decode_ok False instead of failing the scan."""
    try:
        px = decode_image(bytes(data))
        luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        return {
            "mean_r": float(px[:, :, 0].mean()),
            "mean_g": float(px[:, :, 1].mean()),
            "mean_b": float(px[:, :, 2].mean()),
            "std_luma": float(luma.std()),
            "phash_check": phash64(px),
            "decode_ok": True,
        }
    except Exception:  # corrupt payloads: struct/zlib/Index errors too
        return {"mean_r": None, "mean_g": None, "mean_b": None,
                "std_luma": None, "phash_check": None, "decode_ok": False}


def image_features(images: DataFrame) -> DataFrame:
    """(image_id, w, h, fmt) plus `image_stats` of each payload. Only
    `bytes` crosses into Python and the narrow stats come back; the
    wide `bytes` column dies inside the stage."""
    stats = F.udf(image_stats, IMAGE_STATS_STRUCT, useArrow=True)
    cols = ["image_id", "w", "h", "fmt"]
    return images.select(*cols, stats("bytes").alias("s")).select(*cols, "s.*")


# the largest phash Hamming distance of a near-duplicate image pair
PHASH_MAX_HAMMING = 6


def phash_near_dup_pairs(images: DataFrame) -> DataFrame:
    """Near-duplicate images by phash Hamming distance
    ≤ PHASH_MAX_HAMMING — metadata-only plan: reads (image_id, phash),
    never `bytes`. Same block-permutation equi-join as text SimHash,
    with the identical-signature collapse and mega-bucket caps
    (template/solid-color image corpora put millions of identical
    phashes in one bucket otherwise; see
    `operators.dedup.blocked_hamming_pairs`)."""
    from .dedup import blocked_hamming_pairs

    sig = images.select(F.col("image_id"), F.col("phash"))
    return blocked_hamming_pairs(
        sig, "phash", "image_id", 64, 8, PHASH_MAX_HAMMING, 1000
    )


# ------------------------------------------------------- audio / video
#
# WAV/PCM and the HVID frame container need no codec libraries, so the
# decode below is REAL (codecs.audio / codecs.video); only compressed
# formats (mp3/h264/...) remain NotImplementedError stubs — the codec
# modules raise on their magics.


AUDIO_STATS_STRUCT = T.StructType(
    [
        T.StructField("sr", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms_x1e2", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)
FRAME_STRUCT = T.StructType(
    [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("frame_phash", T.LongType()),
    ]
)


def audio_stats(data: bytes | None) -> dict:
    """Decode one PCM WAV payload → duration, RMS, peak and
    zero-crossing count, floats pre-scaled to integers so the output is
    hash-stable. A corrupt payload gives zeros and decode_ok False."""
    try:
        samples, sr = decode_wav(bytes(data))
    except Exception:
        return {"sr": 0, "n_samples": 0, "duration_ms": 0, "rms_x1e2": 0,
                "peak": 0, "zero_crossings": 0, "decode_ok": False}
    mono = samples[:, 0].astype(np.float64)
    n = len(mono)
    rms = float(np.sqrt(np.mean(mono * mono))) if n else 0.0
    return {
        "sr": sr,
        "n_samples": n,
        "duration_ms": round(n * 1000 / sr) if sr else 0,
        "rms_x1e2": round(rms * 100),
        "peak": int(np.max(np.abs(mono))) if n else 0,
        "zero_crossings": (int(np.count_nonzero(np.diff(np.signbit(mono))))
                           if n > 1 else 0),
        "decode_ok": True,
    }


def audio_features(clips: DataFrame) -> DataFrame:
    """(clip_id) plus `audio_stats` of each payload; `bytes` dies inside
    the stage."""
    stats = F.udf(audio_stats, AUDIO_STATS_STRUCT, useArrow=True)
    return clips.select("clip_id", stats("bytes").alias("s")).select(
        "clip_id", "s.*")


def frame_samples(data: bytes | None) -> list[dict]:
    """Demux one video payload, decode the frames `decode_frames`
    samples and return their metadata + pHash. A corrupt / truncated /
    compressed-codec payload (mp4/webm stubs raise NotImplementedError,
    bad HVID raises struct/zlib errors) gives a single marker frame
    (frame_idx=-1, w=h=0) instead of killing the whole corpus scan."""
    try:
        frames = decode_frames(bytes(data))
    except Exception:
        return [{"frame_idx": -1, "w": 0, "h": 0, "frame_phash": 0}]
    return [
        {
            "frame_idx": idx,
            "w": px.shape[1],
            "h": px.shape[0],
            "frame_phash": phash64(px),
        }
        for idx, px in frames
    ]


def sample_frames(videos: DataFrame) -> DataFrame:
    """(video_id) plus one row per `frame_samples` frame. Only the
    narrow features come back: frame pixels never reach the JVM."""
    frames = F.udf(frame_samples, T.ArrayType(FRAME_STRUCT), useArrow=True)
    return videos.select("video_id", F.inline(frames("bytes")))
