"""Decoded-pixel invariants (BASELINE.json input_hint): PNG exact,
lossy PSNR ≥ 40 dB, caption equality — the columnar restatement of the
reference's pixel assertions (tests/parseArticle.test.js:118-123)."""

import numpy as np
import pytest

from horseman_article_parser_spark.codecs.images import (
    decode_image,
    encode_lossy,
    encode_png,
    phash64,
    psnr,
)
from horseman_article_parser_spark.datagen.images import (
    caption_for,
    synth_pixels,
)


@pytest.mark.parametrize("idx", [0, 1, 2, 3, 5, 8, 13])
def test_png_roundtrip_exact(idx):
    px, _, _ = synth_pixels(idx)
    assert (decode_image(encode_png(px)) == px).all()


@pytest.mark.parametrize("idx", [0, 1, 2, 3, 5, 8, 13])
def test_lossy_psnr_at_least_40db(idx):
    px, _, _ = synth_pixels(idx)
    assert psnr(px, decode_image(encode_lossy(px))) >= 40.0


def test_lossy_deterministic():
    px, _, _ = synth_pixels(7)
    assert encode_lossy(px) == encode_lossy(px.copy())


@pytest.mark.parametrize("idx", [0, 1, 2, 3, 5, 8])
@pytest.mark.parametrize("sub", ["4:4:4", "4:2:0"])
def test_jpeg_roundtrip_real_bytes(idx, sub):
    """Round 4: SOI bytes decode for REAL via codecs/jpeg.py. At q90 the
    4:4:4 round-trip must clear the payload-table PSNR bar on every
    synthetic pattern; 4:2:0 must clear it on the smooth-gradient
    patterns (the shape the datagen table actually emits as 4:2:0,
    r5) — box-filtered chroma on saturated band/noise patterns costs
    PSNR, so those stay structural-only."""
    from horseman_article_parser_spark.codecs.jpeg import encode_jpeg

    px, w, h = synth_pixels(idx)
    data = encode_jpeg(px, quality=90, subsampling=sub)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    out = decode_image(data)  # dispatches through the SOI branch
    assert out.shape == (h, w, 3)
    if sub == "4:4:4" or idx % 3 == 0:
        assert psnr(px, out) >= 40.0
    # perceptual hash must not move beyond the near-dup join radius
    hamming = bin((phash64(px) ^ phash64(out)) & ((1 << 64) - 1)).count("1")
    assert hamming <= 6


def test_jpeg_quality_40_reference_setting():
    """The reference's screenshot quality (index.js:758). On a smooth
    gradient q40 still clears 40dB; on every pattern the decode is
    structurally sound and deterministic, and lower quality means fewer
    bytes (the quant tables really scale)."""
    from horseman_article_parser_spark.codecs.jpeg import encode_jpeg

    px, w, h = synth_pixels(0)  # smooth diagonal gradient
    d40 = encode_jpeg(px, quality=40)
    d90 = encode_jpeg(px, quality=90)
    assert len(d40) < len(d90)
    assert psnr(px, decode_image(d40)) >= 40.0
    assert d40 == encode_jpeg(px.copy(), quality=40)  # deterministic


def test_jpeg_decoder_against_handbuilt_stream():
    """Decode a MINIMAL JPEG built BY HAND in this test (markers packed
    manually, Huffman codes written out from the canonical assignment on
    paper) — pins the decoder against the spec independently of the
    encoder: flat-160 8x8 grayscale = DC quantized 16 (category 5, code
    '110' + '10000') then EOB ('1010'), padded with 1s -> 0xD0AF."""
    import struct

    from horseman_article_parser_spark.codecs.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        ZIGZAG,
        decode_jpeg,
    )

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt = np.full(64, 16, dtype=np.uint8)  # uniform, zigzag-invariant
    stream = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes(qt))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
        + seg(0xFFC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes([0xD0, 0xAF])  # 110 10000 1010 + 1111 padding
        + b"\xff\xd9"
    )
    out = decode_jpeg(stream)
    # DC 16 * qt 16 = 256 -> constant block 256/8 = 32 -> +128 = 160
    assert out.shape == (8, 8, 3)
    assert (out == 160).all()
    assert len(ZIGZAG) == 64 and ZIGZAG[0] == 0 and ZIGZAG[1] == 1 and ZIGZAG[2] == 8


def test_jpeg_decoder_rejects_non_baseline():
    from horseman_article_parser_spark.codecs.jpeg import decode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # progressive (SOF2) is out of scope and must say so, not misdecode
    import struct

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    prog = b"\xff\xd8" + seg(
        0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(prog)


def test_jpeg_corrupt_entropy_raises_cleanly():
    """Truncated / garbage entropy data must raise (ValueError /
    struct.error), which image_features turns into decode_ok=False
    rows."""
    from horseman_article_parser_spark.codecs.jpeg import encode_jpeg

    px, _, _ = synth_pixels(1)
    data = bytearray(encode_jpeg(px, quality=75))
    with pytest.raises(Exception):
        decode_image(bytes(data[:40]))  # truncated mid-headers


def test_phash_stable_and_locality():
    px, _, _ = synth_pixels(4)
    h1 = phash64(px)
    assert h1 == phash64(px.copy())
    # lossy re-encode must not move the perceptual hash far
    px2 = decode_image(encode_lossy(px))
    hamming = bin((h1 ^ phash64(px2)) & ((1 << 64) - 1)).count("1")
    assert hamming <= 4


def test_captions_deterministic():
    assert caption_for(12) == caption_for(12)
    assert caption_for(12) != caption_for(13)


def test_jpeg_decoder_restart_markers():
    """DRI/RSTn support, pinned by a hand-built 2-MCU grayscale stream:
    restart interval 1, an RST0 between the MCUs, DC predictor reset at
    the restart — both flat blocks decode to 160 (same arithmetic as
    test_jpeg_decoder_against_handbuilt_stream)."""
    import struct

    from horseman_article_parser_spark.codecs.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        decode_jpeg,
    )

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt = np.full(64, 16, dtype=np.uint8)
    mcu_bits = bytes([0xD0, 0xAF])  # DC cat5 '110'+'10000', EOB, 1-pad
    stream = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes(qt))
        + seg(0xFFDD, struct.pack(">H", 1))  # DRI: restart every MCU
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
        + seg(0xFFC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + mcu_bits
        + b"\xff\xd0"  # RST0 -> predictor resets, bit reader realigns
        + mcu_bits     # same absolute DC again because pred was reset
        + b"\xff\xd9"
    )
    out = decode_jpeg(stream)
    assert out.shape == (8, 16, 3)
    assert (out == 160).all()


def test_jpeg_fill_bytes_and_noninterleaved():
    """Spec conformance edges (review r4): fill 0xFF bytes before a
    marker (B.1.1.2) must parse; a non-interleaved multi-scan stream
    must raise NotImplementedError instead of silently mis-decoding."""
    import struct

    from horseman_article_parser_spark.codecs.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        decode_jpeg,
        encode_jpeg,
    )

    px, _, _ = synth_pixels(0)
    data = encode_jpeg(px, quality=75)
    # inject a fill byte before the first DQT marker (after SOI+APP0)
    app0_end = 2 + 2 + 16  # SOI + APP0 marker + APP0 payload
    padded = data[:app0_end] + b"\xff" + data[app0_end:]
    assert (decode_jpeg(padded) == decode_jpeg(data)).all()

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt = np.full(64, 16, dtype=np.uint8)
    non_interleaved = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes(qt))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 3)
              + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
        + seg(0xFFC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))  # 1 of 3 comps
        + bytes([0xD0, 0xAF])
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(non_interleaved)
