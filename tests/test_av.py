"""Audio/video payload surface: real WAV/HVID codecs, feature kernels,
frame sampling (training-pipeline multimodal ops beyond the reference)."""

import numpy as np
import pytest

from horseman_article_parser_spark.codecs.audio import decode_wav, encode_wav
from horseman_article_parser_spark.codecs.video import (
    decode_frames,
    encode_video,
    probe_video,
)
from horseman_article_parser_spark.datagen.av import (
    AUDIO_SR,
    build_audio_table,
    build_videos_table,
    synth_audio,
    synth_frame,
    video_params,
)


def test_wav_roundtrip_bit_exact():
    samples, sr, _, _ = synth_audio(3)
    out, sr2 = decode_wav(encode_wav(samples, sr))
    assert sr2 == sr
    assert np.array_equal(out[:, 0], samples)


def test_wav_stereo_and_compressed_stub():
    stereo = np.stack([np.arange(100), -np.arange(100)], axis=1).astype(np.int16)
    out, sr = decode_wav(encode_wav(stereo, 44100))
    assert out.shape == (100, 2) and sr == 44100
    with pytest.raises(NotImplementedError):
        decode_wav(b"ID3\x04" + b"\x00" * 64)


def test_video_roundtrip_and_seek():
    frames = [synth_frame(1, f, 32, 24) for f in range(10)]
    data = encode_video(frames, fps=30)
    assert probe_video(data) == (32, 24, 30, 10)
    # frames 1-9 are seeked over, frame 0 decodes bit-exactly
    got = decode_frames(data)
    assert [i for i, _ in got] == [0]
    for i, px in got:
        assert np.array_equal(px, frames[i])
    with pytest.raises(NotImplementedError):
        decode_frames(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 32)


def test_audio_features_kernel(spark):
    from horseman_article_parser_spark.operators.multimodal import audio_features

    clips = build_audio_table(spark, 8)
    feats = {r.clip_id: r for r in audio_features(clips).collect()}
    assert len(feats) == 8
    for i in range(8):
        samples, sr, amp, freq = synth_audio(i)
        r = feats[f"clip-{i:08d}"]
        assert r.decode_ok and r.sr == AUDIO_SR and r.n_samples == len(samples)
        assert r.duration_ms == round(len(samples) * 1000 / sr)
        # sine RMS ≈ amp/√2 (quantization noise ≪ 1%)
        assert abs(r.rms_x1e2 / 100 - amp / np.sqrt(2)) < amp * 0.01
        assert abs(r.peak - amp) <= 1
        # ~2 zero crossings per cycle
        expected_zc = 2 * freq * len(samples) / sr
        assert abs(r.zero_crossings - expected_zc) <= 3


def test_sample_frames_kernel(spark):
    from horseman_article_parser_spark.codecs.images import phash64
    from horseman_article_parser_spark.operators.multimodal import sample_frames

    vids = build_videos_table(spark, 4)
    out = sample_frames(vids).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.video_id, []).append(r)
    for i in range(4):
        w, h, fps, n_frames = video_params(i)
        rows = sorted(by_vid[f"vid-{i:08d}"], key=lambda r: r.frame_idx)
        assert n_frames > 1 and [r.frame_idx for r in rows] == [0]
        for r in rows:
            assert (r.w, r.h) == (w, h)
            assert r.frame_phash == phash64(synth_frame(i, r.frame_idx, w, h))
    assert "frame" not in out[0].asDict()  # narrow path: no pixels to the JVM


def test_av_features_no_binary_in_exchange(spark):
    """Scale rule: media bytes die inside the decoding UDF's stage — no
    shuffle exchange may carry the `bytes`/`frame` binary columns."""
    import __spark_entry__ as entry

    df = entry.queries()["av_features"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes" not in line and "frame#" not in line, line


def test_sample_frames_corrupt_payload_marker_row(spark):
    """A corrupt / compressed / truncated video payload must yield one
    marker row (frame_idx=-1, w=h=0) instead of failing the whole scan —
    the same failure semantics as audio_features."""
    from horseman_article_parser_spark.operators.multimodal import sample_frames

    good = build_videos_table(spark, 1)
    bad = spark.createDataFrame(
        [
            ("vid-corrupt", bytearray(b"\x00\x00\x00\x18ftypmp42garbage")),  # mp4 stub
            ("vid-trunc", bytearray(b"HVID\x01\x02")),                       # truncated
        ],
        good.select("video_id", "bytes").schema,
    )
    out = sample_frames(good.select("video_id", "bytes").unionByName(bad)).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.video_id, []).append(r)
    # the good video still decodes fully
    assert all(r.frame_idx >= 0 for r in by_vid["vid-00000000"])
    for vid in ("vid-corrupt", "vid-trunc"):
        rows = by_vid[vid]
        assert len(rows) == 1
        assert (rows[0].frame_idx, rows[0].w, rows[0].h) == (-1, 0, 0)
