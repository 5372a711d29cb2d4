"""Multimodal binary-column plumbing: Arrow-batched feature
extraction. Uncompressed formats
(24-bit BMP, PCM WAV) decode for REAL via stdlib decoders; compressed
formats still use deterministic fakes (no codec libs in this
runtime), with the Spark-side schema/batch shapes real in both
cases."""

from __future__ import annotations

import pytest

from wroclaw_bike_stats_spark.operators.multimodal import (
    ASSET_SCHEMA,
    decode_image_real,
    extract_features,
)


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", b"imagebytes-1", "image/png", 640, 480, None),
        (2, "image", b"imagebytes-2", "image/jpeg", 1920, 1080, None),
        (3, "audio", b"audiobytes-3", "audio/wav", None, None, 12.5),
        (4, "video", b"videobytes-4", "video/mp4", 1280, 720, 3.0),
        (5, "video", b"videobytes-5", "video/mp4", 1280, 720, 0.0),
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA).cache()


def test_extract_features_deterministic(assets):
    a = {r["asset_id"]: r["feature"] for r in extract_features(assets).collect()}
    b = {r["asset_id"]: r["feature"] for r in extract_features(assets).collect()}
    assert a == b
    assert len(a) == 5
    assert all(len(v) == 8 for v in a.values())
    # different payloads → different fake features
    assert a[1] != a[2]


def _golden_bmp(width=4, height=3, top_down=False) -> bytes:
    """Hand-assembled 24-bit BI_RGB BMP: row r (top-origin), col c is
    RGB (10*r, 20*c, 7). Rows padded to 4 bytes; bottom-up unless
    top_down."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pix = bytearray()
    row_order = range(height) if top_down else range(height - 1, -1, -1)
    for r in row_order:
        row = bytearray()
        for c in range(width):
            row += bytes([7, 20 * c, 10 * r])  # stored BGR
        row += b"\x00" * (row_stride - len(row))
        pix += row
    h_field = -height if top_down else height
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, h_field, 1, 24, 0,
                      len(pix), 2835, 2835, 0, 0)
    return bytes(hdr + dib + pix)


def _golden_wav(rate=8000, n=800, freq=440.0) -> bytes:
    """16-bit mono PCM sine via the stdlib wave writer."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = [
            int(0.5 * 32767 * math.sin(2 * math.pi * freq * i / rate))
            for i in range(n)
        ]
        w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def test_bmp_decoder_pixels_and_features():
    import numpy as np

    from wroclaw_bike_stats_spark.operators.multimodal import decode_bmp

    for top_down in (False, True):
        rgb = decode_bmp(_golden_bmp(top_down=top_down))
        assert rgb.shape == (3, 4, 3)
        # orientation-sensitive: pixel (row 2, col 3) = (20, 60, 7)
        assert tuple(rgb[2, 3]) == (20, 60, 7)
        assert tuple(rgb[0, 0]) == (0, 0, 7)

    feats = decode_image_real(_golden_bmp())
    assert feats[0] == 4.0 and feats[1] == 3.0
    exp_means = np.array(
        [[10 * r, 20 * c, 7] for r in range(3) for c in range(4)]
    ).mean(axis=0) / 255.0
    assert feats[2:5] == pytest.approx(list(exp_means))
    assert len(feats) == 8


def test_bmp_decoder_rejects_garbage_loudly():
    with pytest.raises(ValueError):
        decode_image_real(b"not a bitmap")
    with pytest.raises(ValueError):  # right magic, truncated
        decode_image_real(b"BM" + b"\x00" * 20)


def test_bmp_decoder_rejects_degenerate_dimensions():
    """Regression (round-6 review): a zero-height (or zero/negative
    width) header passed the truncation check with an empty pixel
    array and produced NaN features instead of an error."""
    for w, h in ((4, 0), (0, 3), (-4, 3)):
        with pytest.raises(ValueError, match="degenerate|unsupported"):
            decode_image_real(_degenerate_bmp(w, h))


def _degenerate_bmp(width, height) -> bytes:
    import struct

    hdr = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      0, 2835, 2835, 0, 0)
    return bytes(hdr + dib)


def test_wav_decoder_features():
    from wroclaw_bike_stats_spark.operators.multimodal import (
        decode_audio_real,
        decode_wav,
    )

    x, rate = decode_wav(_golden_wav())
    assert rate == 8000 and x.size == 800
    feats = decode_audio_real(_golden_wav())
    assert feats[0] == 8000.0 and feats[1] == 800.0
    assert feats[2] == pytest.approx(0.1)  # 800 / 8000 s
    # 0.5-amplitude sine: rms ~ 0.5/sqrt(2), zcr ~ 2*440/8000
    assert feats[3] == pytest.approx(0.3535, abs=0.01)
    assert feats[5] == pytest.approx(0.11, abs=0.01)
    with pytest.raises(Exception):
        decode_audio_real(b"junk that is not RIFF")


def test_real_decoders_flow_through_extract_features(spark):
    """The stdlib decoders are real decode_fn citizens: golden BMP/WAV
    payloads flow through the Arrow-batched mapInPandas pipeline
    end-to-end."""
    from wroclaw_bike_stats_spark.operators.multimodal import decode_audio_real

    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(_golden_bmp()), "image/bmp", 4, 3, None),
            (2, "image", bytearray(_golden_bmp(top_down=True)),
             "image/bmp", 4, 3, None),
        ],
        ASSET_SCHEMA,
    )
    feats = {
        r["asset_id"]: r["feature"]
        for r in extract_features(assets, decode_fn=decode_image_real).collect()
    }
    assert feats[1] == pytest.approx(decode_image_real(_golden_bmp()))
    assert feats[1] == pytest.approx(feats[2])  # orientation-invariant pixels

    audio = spark.createDataFrame(
        [(3, "audio", bytearray(_golden_wav()), "audio/wav", None, None, 0.1)],
        ASSET_SCHEMA,
    )
    got = extract_features(audio, decode_fn=decode_audio_real).collect()[0]
    assert got["feature"] == pytest.approx(decode_audio_real(_golden_wav()))
