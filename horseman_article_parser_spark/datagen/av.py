"""Deterministic synthetic audio/video payload tables.

Same contract as `datagen.images`: the driver materializes only an id
range; synthesis + encoding happens executor-side in `mapInPandas`
(Arrow-batched), and every clip/video is a pure function of its integer
id, so any partition — or a resumed run — regenerates identical bytes.

Audio clips are sine mixtures encoded as real PCM16 WAV; videos are
moving-gradient frame sequences in the `codecs.video` HVID container.
Both carry generation parameters as columns so feature extraction has a
by-construction oracle (amplitude ⇒ expected RMS, frame count ⇒
duration, first-frame pixels ⇒ pHash recheck).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..codecs.audio import encode_wav
from ..codecs.video import encode_video

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("sr", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("amp", T.IntegerType(), False),
        T.StructField("freq_hz", T.IntegerType(), False),
        T.StructField("caption", T.StringType(), False),
    ]
)

VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fps", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("caption", T.StringType(), False),
    ]
)

AUDIO_SR = 8000
_AUDIO_LENS = [4000, 6000, 8000, 12000]  # samples → 0.5-1.5 s at 8 kHz
_AMPS = [8000, 12000, 16000, 20000]  # int16 amplitudes
_FREQS = [220, 440, 660, 880]
_VIDEO_DIMS = [(32, 24), (48, 32)]
_VIDEO_FRAMES = [12, 24, 30]


def clip_id_for(idx: int) -> str:
    return f"clip-{idx:08d}"


def video_id_for(idx: int) -> str:
    return f"vid-{idx:08d}"


def synth_audio(idx: int) -> tuple[np.ndarray, int, int, int]:
    """Deterministic (n,) int16 sine for clip `idx` → (samples, sr,
    amp, freq)."""
    n = _AUDIO_LENS[idx % len(_AUDIO_LENS)]
    amp = _AMPS[idx % len(_AMPS)]
    freq = _FREQS[(idx // 2) % len(_FREQS)]
    t = np.arange(n, dtype=np.float64) / AUDIO_SR
    wave = amp * np.sin(2 * np.pi * freq * t)
    return np.round(wave).astype(np.int16), AUDIO_SR, amp, freq


def synth_frame(idx: int, frame_idx: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 frame: a gradient that shifts one
    column per frame, so every frame differs but is reproducible."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx + yy + frame_idx + idx) * 255 // max(w + h - 2, 1)) % 256
    return np.ascontiguousarray(
        np.stack([base, (base + 85) % 256, (base + 170) % 256], axis=2)
    ).astype(np.uint8)


def video_params(idx: int) -> tuple[int, int, int, int]:
    w, h = _VIDEO_DIMS[idx % len(_VIDEO_DIMS)]
    n_frames = _VIDEO_FRAMES[idx % len(_VIDEO_FRAMES)]
    return w, h, 30, n_frames


def _audio_batch(ids: np.ndarray) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        samples, sr, amp, freq = synth_audio(i)
        rows.append(
            {
                "clip_id": clip_id_for(i),
                "bytes": encode_wav(samples, sr),
                "sr": sr,
                "n_samples": len(samples),
                "amp": amp,
                "freq_hz": freq,
                "caption": f"Clip {i}. A {freq} Hz tone.",
            }
        )
    return pd.DataFrame(rows)


def _video_batch(ids: np.ndarray) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        w, h, fps, n_frames = video_params(i)
        frames = [synth_frame(i, f, w, h) for f in range(n_frames)]
        rows.append(
            {
                "video_id": video_id_for(i),
                "bytes": encode_video(frames, fps),
                "w": w,
                "h": h,
                "fps": fps,
                "n_frames": n_frames,
                "caption": f"Video {i}. A moving gradient.",
            }
        )
    return pd.DataFrame(rows)


def build_audio_table(spark: SparkSession, n: int) -> DataFrame:
    base = spark.range(0, n, 1, min(32, max(1, n // 64 or 1)))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _audio_batch(pdf["id"].values)

    return base.mapInPandas(gen, schema=AUDIO_SCHEMA)


def build_videos_table(spark: SparkSession, n: int) -> DataFrame:
    base = spark.range(0, n, 1, min(32, max(1, n // 64 or 1)))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _video_batch(pdf["id"].values)

    return base.mapInPandas(gen, schema=VIDEOS_SCHEMA)
