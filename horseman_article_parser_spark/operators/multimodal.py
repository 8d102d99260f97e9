"""Multimodal (image/audio/video) column operators: opaque `binary`
payloads + typed metadata, processed by Arrow-batched `mapInPandas`
kernels — never per-row Python UDFs (BASELINE.json input_hint).

The payload table is exactly the input_hint shape:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash bigint)

The reference's analogue is the screenshot JPEG + `article.images[]`
metadata (/root/reference/index.js:755-775, 1014-1181); here the binary
payload is a first-class column and the per-row invariant is decoded-
pixel PSNR≥40dB + caption equality (verified in tests/test_images_table.py
and tests/test_multimodal.py).

Decode dispatch is real numpy for PNG, baseline JPEG (round 4:
codecs/jpeg.py huffman+DCT — SOI bytes decode for real), the legacy
QJPG container, PCM WAV audio, and the HVID frame container; remaining
compressed formats (mp3, h264, progressive JPEG) stay honest
NotImplementedError stubs — the Spark plumbing (schema, Arrow batch
shape, partitioning, UDF signature) is identical either way and fully
tested.

Scale rules encoded here:
- `bytes` never enters a shuffle: kernels run as narrow `mapInPandas`
  over the scan; joins happen on `image_id` AFTER features are extracted
  (SURVEY §7.3 "keep bytes out of shuffles, join back late").
- Metadata-only queries never touch `bytes`: Parquet column pruning does
  the work, see `tests/test_multimodal.py::test_column_pruning`.
- Arrow batches stay bounded via spark.sql.execution.arrow.maxRecordsPerBatch
  (session.py) because one batch holds ~2048 × bytes cells.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..codecs.images import decode_image, phash64

IMAGE_FEATURE_SCHEMA = (
    "`image_id` string, `w` int, `h` int, `fmt` string, "
    "`mean_r` double, `mean_g` double, `mean_b` double, "
    "`std_luma` double, `phash_check` bigint, `decode_ok` boolean"
)


def image_features(images: DataFrame) -> DataFrame:
    """Decode + per-channel stats + phash recheck, one Arrow pass.

    Selects only the columns the kernel needs (column pruning reaches
    the parquet scan), decodes each payload, and emits a narrow feature
    row — the wide `bytes` column dies inside the stage."""
    src = images.select("image_id", "bytes", "w", "h", "fmt")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                try:
                    px = decode_image(bytes(data))
                    luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                    rows.append(
                        (image_id, int(w), int(h), fmt,
                         float(px[:, :, 0].mean()), float(px[:, :, 1].mean()),
                         float(px[:, :, 2].mean()), float(luma.std()),
                         phash64(px), True)
                    )
                except Exception:  # corrupt payloads: struct/zlib/Index errors too
                    rows.append((image_id, int(w), int(h), fmt,
                                 None, None, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "w", "h", "fmt", "mean_r", "mean_g",
                         "mean_b", "std_luma", "phash_check", "decode_ok"],
            )

    return src.mapInPandas(kernel, schema=IMAGE_FEATURE_SCHEMA)


def phash_near_dup_pairs(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate images by phash Hamming distance — metadata-only
    plan: reads (image_id, phash), never `bytes`. Same block-permutation
    equi-join as text SimHash, with the identical-signature collapse and
    mega-bucket caps (template/solid-color image corpora put millions of
    identical phashes in one bucket otherwise; see
    `operators.dedup.blocked_hamming_pairs`)."""
    from .dedup import blocked_hamming_pairs

    sig = images.select(F.col("image_id"), F.col("phash"))
    return blocked_hamming_pairs(
        sig, "phash", "image_id", 64, 8, max_hamming, 1000
    )


# ------------------------------------------------------- audio / video
#
# WAV/PCM and the HVID frame container need no codec libraries, so the
# decode below is REAL (codecs.audio / codecs.video); only compressed
# formats (mp3/h264/...) remain NotImplementedError stubs — the codec
# modules raise on their magics.


AUDIO_FEATURE_SCHEMA = (
    "`clip_id` string, `sr` int, `n_samples` int, `duration_ms` bigint, "
    "`rms_x1e2` bigint, `peak` int, `zero_crossings` bigint, "
    "`decode_ok` boolean"
)
FRAME_SAMPLE_SCHEMA = (
    "`video_id` string, `frame_idx` int, `w` int, `h` int, "
    "`frame_phash` bigint, `frame` binary"
)


def audio_features(clips: DataFrame) -> DataFrame:
    """Audio decode + feature extraction (duration, RMS, peak,
    zero-crossing count) over PCM WAV payloads — one Arrow crossing,
    `bytes` dies inside the stage; floats are emitted pre-scaled to
    bigint so the whole output is hash-stable."""
    from ..codecs.audio import decode_wav

    src = clips.select(F.col("clip_id"), F.col("bytes"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for cid, data in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    samples, sr = decode_wav(bytes(data))
                except Exception:
                    rows.append(
                        {"clip_id": cid, "sr": 0, "n_samples": 0,
                         "duration_ms": 0, "rms_x1e2": 0, "peak": 0,
                         "zero_crossings": 0, "decode_ok": False}
                    )
                    continue
                mono = samples[:, 0].astype(np.float64)
                n = len(mono)
                rms = float(np.sqrt(np.mean(mono * mono))) if n else 0.0
                zc = int(np.count_nonzero(np.diff(np.signbit(mono)))) if n > 1 else 0
                rows.append(
                    {
                        "clip_id": cid,
                        "sr": sr,
                        "n_samples": n,
                        "duration_ms": round(n * 1000 / sr) if sr else 0,
                        "rms_x1e2": round(rms * 100),
                        "peak": int(np.max(np.abs(mono))) if n else 0,
                        "zero_crossings": zc,
                        "decode_ok": True,
                    }
                )
            yield pd.DataFrame(rows)

    return src.mapInPandas(kernel, schema=AUDIO_FEATURE_SCHEMA)


def sample_frames(videos: DataFrame, every_n: int = 30,
                  with_pixels: bool = False) -> DataFrame:
    """Frame sampling: demux the container, decode every `every_n`-th
    frame, emit its metadata + pHash (and the PNG-encoded pixels when
    with_pixels=True — default off so the narrow feature path never
    ships frame bytes back to the JVM).

    Failure semantics match `audio_features`: a corrupt / truncated /
    compressed-codec payload (mp4/webm stubs raise NotImplementedError,
    bad HVID raises struct/zlib errors) yields a single marker row
    (frame_idx=-1, decode_ok semantics via w=h=0) instead of killing the
    whole corpus scan (ADVICE r3)."""
    from ..codecs.images import encode_png
    from ..codecs.video import decode_frames

    src = videos.select(F.col("video_id"), F.col("bytes"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for vid, data in zip(pdf["video_id"], pdf["bytes"]):
                try:
                    frames = list(decode_frames(bytes(data), every_n))
                except Exception:
                    rows.append(
                        {"video_id": vid, "frame_idx": -1, "w": 0, "h": 0,
                         "frame_phash": 0, "frame": None}
                    )
                    continue
                for idx, px in frames:
                    rows.append(
                        {
                            "video_id": vid,
                            "frame_idx": idx,
                            "w": px.shape[1],
                            "h": px.shape[0],
                            "frame_phash": phash64(px),
                            "frame": encode_png(px) if with_pixels else None,
                        }
                    )
            yield pd.DataFrame(rows)

    return src.mapInPandas(kernel, schema=FRAME_SAMPLE_SCHEMA)
