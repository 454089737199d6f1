"""Multimodal (image/audio/video) column operators.

Media payloads are opaque `binary` columns with typed metadata structs
(BASELINE.json interleaved-doc model: media spans carry `media_ref`; the
bytes live in a side table keyed by ref). The Spark-side plumbing -
schemas, partition-preserving mapInPandas batching, UDF signatures,
deterministic batch shapes - is real and tested; the codec step is
STUBBED: this container has no image/audio libraries, so `decode_image`
raises NotImplementedError unless `fake=True`, which produces a
deterministic synthetic decode (seeded from the payload hash) with the
exact output schema a real decoder would emit.

Operators:
  - media_table: (media_ref string, payload binary, kind, width, height,
    sample_rate, n_frames) typed metadata schema
  - decode_image / extract_features / resize / sample_frames:
    mapInPandas stages over Arrow batches, one batch per N rows,
    never per-row Python
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType,
                               IntegerType, LongType, StringType,
                               StructField, StructType)

MEDIA_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("kind", StringType()),          # image | audio | video
    StructField("payload", BinaryType()),       # opaque encoded bytes
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_frames", IntegerType()),
])


def _fake_pixels(payload: bytes, h: int, w: int, c: int = 3) -> np.ndarray:
    """Deterministic fake decode: pixels seeded by payload hash."""
    seed = int.from_bytes(bytes(payload)[:8] or b"\0" * 8, "little",
                          signed=False)
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, c), dtype=np.uint8)


DECODED_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("pixels", ArrayType(IntegerType())),
])


def decode_image(media: DataFrame, fake: bool = False) -> DataFrame:
    """payload -> (H, W, 3) uint8 pixel array (flattened).

    Real codec unavailable in this container - `fake=True` runs the
    deterministic stub; fake=False raises at execution time, documenting
    where a PIL/libjpeg kernel plugs in.
    """

    def _decode(it):
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                if not fake:
                    raise NotImplementedError(
                        "image codec not available in this environment; "
                        "plug a PIL/turbojpeg kernel here or use fake=True")
                h, w = int(r["height"]), int(r["width"])
                px = _fake_pixels(r["payload"], h, w)
                rows.append({"media_ref": r["media_ref"], "height": h,
                             "width": w, "channels": 3,
                             "pixels": px.ravel().astype(np.int32)
                             .tolist()})
            yield pd.DataFrame(rows,
                               columns=[f.name for f in DECODED_SCHEMA])

    return media.filter(F.col("kind") == "image") \
        .mapInPandas(_decode, DECODED_SCHEMA)


FEATURES_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("embedding", ArrayType(FloatType())),
])


def extract_features(decoded: DataFrame, dim: int = 64) -> DataFrame:
    """Pixel stats -> fixed-dim feature vector (channel histograms) -
    the deterministic stand-in for a vision encoder; batch-vectorized."""

    def _feat(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                px = np.asarray(r["pixels"], dtype=np.float64)
                hist, _ = np.histogram(px, bins=dim, range=(0, 256))
                v = hist / max(px.size, 1)
                out.append({"media_ref": r["media_ref"],
                            "embedding": v.astype(np.float32).tolist()})
            yield pd.DataFrame(out,
                               columns=[f.name for f in FEATURES_SCHEMA])

    return decoded.mapInPandas(_feat, FEATURES_SCHEMA)


def resize(decoded: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize of flattened pixel arrays (numpy indexing,
    the real thing - no codec needed)."""

    def _resize(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                h, w, c = int(r["height"]), int(r["width"]), \
                    int(r["channels"])
                px = np.asarray(r["pixels"],
                                dtype=np.int32).reshape(h, w, c)
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                rs = px[yi][:, xi]
                out.append({"media_ref": r["media_ref"], "height": out_h,
                            "width": out_w, "channels": c,
                            "pixels": rs.ravel().tolist()})
            yield pd.DataFrame(out,
                               columns=[f.name for f in DECODED_SCHEMA])

    return decoded.mapInPandas(_resize, DECODED_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 5) -> DataFrame:
    """Frame sampling plan for video rows: explodes frame indices
    0, k, 2k, ... < n_frames (pure column ops; the per-frame decode then
    reuses decode_image)."""
    vids = media.filter(F.col("kind") == "video")
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
    return vids.withColumn("frame_index", F.explode(idx))
