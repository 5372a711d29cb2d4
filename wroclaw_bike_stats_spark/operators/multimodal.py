"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side design is real and tested — schemas, Arrow-batched
``mapInPandas`` plumbing, partitioning. Decoding comes in two tiers:
UNCOMPRESSED formats decode for real with the stdlib
(``decode_bmp``/``decode_image_real`` for 24-bit BMP,
``decode_wav``/``decode_audio_real`` for PCM WAV — both usable as
``decode_fn`` and tested end-to-end on golden fixtures); COMPRESSED
formats (PNG/JPEG/MP3/MP4) need codec libraries this runtime image
does not ship, so ``decode_fn=None`` uses a deterministic fake that
derives "features" from the bytes — passing a PIL/ffmpeg-backed
decoder in a full deployment changes no plumbing.

Scale notes:
- binary payloads ride in the same parquet row groups as metadata;
  at 100 TB keep payloads in their own column (column pruning means
  metadata-only queries never read the bytes).
- ``mapInPandas`` streams Arrow record batches — per-batch Python cost
  is amortized over thousands of rows, and batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory
  is independent of corpus size.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# A multimodal asset row: opaque payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),  # 'image' | 'audio' | 'video'
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", LongType()),  # image/video
        StructField("height", LongType()),
        StructField("duration_s", DoubleType()),  # audio/video
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def _fake_decode_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decode→embed step: features
    derived from the payload digest. NOT a real decoder — replace via
    ``decode_fn`` when media libs are available."""
    digest = hashlib.sha256(payload or b"").digest()
    return [digest[i] / 255.0 for i in range(dim)]


def extract_features(
    assets: DataFrame,
    decode_fn: Callable[[bytes], list[float]] | None = None,
    batch_feature_dim: int = 8,
) -> DataFrame:
    """Decode/feature-extract every asset via Arrow-batched
    ``mapInPandas``.

    ``decode_fn`` maps raw bytes → feature vector. None → the
    deterministic fake (see module docstring). A real image decode
    (resize, frame-sample, …) plugs in here unchanged.
    """
    fn = decode_fn or (lambda b: _fake_decode_features(b, batch_feature_dim))

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": payloads.map(lambda b: fn(b or b"")),
                }
            )

    return assets.mapInPandas(_batches, FEATURES_SCHEMA)


def decode_bmp(payload: bytes):
    """Pure-stdlib decoder for the uncompressed 24-bit BMP subset
    (BITMAPINFOHEADER, BI_RGB): returns an (height, width, 3) uint8
    RGB array. No media libraries in this runtime — BMP's fixed
    little-endian layout (``struct`` + one ``np.frombuffer``) makes it
    the one raster format decodable from first principles, which turns
    the image path from a stub into a tested end-to-end pipeline.
    Rows are 4-byte aligned; positive height = bottom-up storage."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (header {hdr_size}, {bpp} bpp, "
            f"compression {compression}) — only 24-bit BI_RGB is decoded"
        )
    top_down = height < 0
    height = abs(height)
    # zero/negative width or zero height would sail through the
    # truncation check (need == pix_off) and yield an empty pixel
    # array → NaN features downstream; raise loudly instead
    if width <= 0 or height == 0:
        raise ValueError(f"degenerate BMP dimensions {width}x{height}")
    row_stride = (width * 3 + 3) & ~3
    need = pix_off + row_stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_stride * height, offset=pix_off
    ).reshape(height, row_stride)
    # stored BGR, bottom-up (unless negative height); slice off padding
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    rgb = bgr[:, :, ::-1]
    return rgb if top_down else rgb[::-1]


def decode_image_real(payload: bytes) -> list[float]:
    """Real image decode → 8-dim feature vector (drop-in
    ``decode_fn`` for ``extract_features``): decodes the 24-bit BMP
    subset with the stdlib (``decode_bmp``) and summarizes to
    [width, height, mean R/G/B (0-1), grayscale std (0-1), aspect].
    Other formats (PNG/JPEG need real codec libs) raise ValueError —
    loud, not silently fake."""
    import numpy as np

    rgb = decode_bmp(payload).astype(np.float64)
    h, w = rgb.shape[0], rgb.shape[1]
    means = rgb.reshape(-1, 3).mean(axis=0) / 255.0
    gray = rgb.mean(axis=2)
    return [
        float(w),
        float(h),
        float(means[0]),
        float(means[1]),
        float(means[2]),
        float(gray.std() / 255.0),
        float(w / h) if h else 0.0,
        float(gray.mean() / 255.0),
    ]


def decode_wav(payload: bytes):
    """Pure-stdlib decoder for PCM WAV (8/16/32-bit integer): returns
    (samples, sample_rate) where ``samples`` is a float64 array in
    [-1, 1], channels averaged to mono. The stdlib ``wave`` module
    parses the RIFF framing; ``np.frombuffer`` views the PCM frames —
    no audio libraries needed, so the audio path runs for real in this
    runtime (compressed formats still need external codecs)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload)) as w:
        n_ch = w.getnchannels()
        rate = w.getframerate()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 1:  # 8-bit WAV is unsigned
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x, rate


def decode_audio_real(payload: bytes) -> list[float]:
    """Real audio decode → 8-dim feature vector (drop-in
    ``decode_fn`` for ``extract_features``): stdlib PCM WAV decode
    (``decode_wav``) summarized to [sample_rate, n_samples,
    duration_s, rms, peak, zero-crossing rate, mean (DC offset),
    std]. Non-WAV/compressed payloads raise — loud, not silently
    fake."""
    import numpy as np

    x, rate = decode_wav(payload)
    n = x.size
    if n == 0:
        return [float(rate), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
    return [
        float(rate),
        float(n),
        float(n / rate) if rate else 0.0,
        float(np.sqrt(np.mean(x * x))),
        float(np.abs(x).max()),
        zc,
        float(x.mean()),
        float(x.std()),
    ]
