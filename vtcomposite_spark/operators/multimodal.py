"""Multimodal columns: media as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow batching via mapInPandas,
partition-preserving transforms — and so is the image codec for the
UNCOMPRESSED netpbm formats, implemented in pure numpy from the public
spec: P5 (PGM, grayscale) and P6 (PPM, RGB) decode into the feature
kernel; ``encode_pgm`` writes P5 (``operators.raster`` renders with it).

COMPRESSED codecs (JPEG/PNG) need external libraries this container does
not ship; ``codec="real"`` raises NotImplementedError at the exact seam
where Pillow would plug in — everything around the seam (schemas,
batching) is identical either way.

A deterministic in-house fake (b"IMG1" + width:uint16 + height:uint16 +
row-major bytes, from ``synthesize_media``) is kept for plumbing tests
whose payload sizes must vary adversarially.
"""
from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # "image" from synthesize_media
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("histogram", T.ArrayType(T.LongType())),  # 16 bins
])


def synthesize_media(spark: SparkSession, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic fake image table; sizes vary 16x16..64x64 by id."""

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for i in pdf["id"]:
                i = int(i)
                w = 16 + (i * 7) % 49
                h = 16 + (i * 13) % 49
                rng = np.random.default_rng(i)
                px = rng.integers(0, 256, w * h, dtype=np.uint8)
                payload = b"IMG1" + struct.pack("<HH", w, h) + px.tobytes()
                out["media_id"].append(i)
                out["kind"].append("image")
                out["payload"].append(payload)
                out["meta"].append({"w": str(w), "h": str(h), "codec": "fake"})
            yield pd.DataFrame(out)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)


def _decode_fake(payload: bytes):
    if payload[:4] != b"IMG1":
        raise ValueError("not an IMG1 fake payload")
    w, h = struct.unpack_from("<HH", payload, 4)
    px = np.frombuffer(payload, dtype=np.uint8, offset=8, count=w * h)
    return w, h, px


def decode_image(media: DataFrame, codec: str = "auto") -> DataFrame:
    """payload → (width, height, mean_px, 16-bin histogram), Arrow-batched.

    ``auto`` (default) sniffs the payload: netpbm P5/P6 decode for real
    (RGB reduces to per-pixel mean for the gray features), IMG1 via the
    fake. ``codec="real"`` is the seam for COMPRESSED formats
    (JPEG/PNG via Pillow/libvips) — not available in this environment.
    """
    if codec == "real":
        raise NotImplementedError(
            "compressed image codecs (JPEG/PNG) are not installed in this "
            "environment; plug Pillow/libvips in here — the Spark plumbing "
            "is identical (uncompressed netpbm decodes natively)")
    dec = _decode_fake if codec == "fake" else _decode_any_image

    def kernel(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ws, hs, means, hists = [], [], [], []
            for payload in pdf["payload"]:
                w, h, px = dec(bytes(payload))
                ws.append(w)
                hs.append(h)
                means.append(float(px.mean()))
                hists.append(np.bincount(px >> 4, minlength=16).astype(np.int64))
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "width": ws, "height": hs, "mean_px": means,
                "histogram": hists,
            })

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=IMAGE_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# real codecs for uncompressed standard formats (pure numpy, from the specs)
# ---------------------------------------------------------------------------

def encode_pgm(img: np.ndarray) -> bytes:
    """2-D uint8 → netpbm P5 (binary graymap, maxval 255)."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_pnm(payload: bytes):
    """netpbm P5/P6 → (w, h, channels, flat uint8 pixels). Handles the
    spec's whitespace/comment header grammar."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm payload")
    channels = 1 if payload[:2] == b"P5" else 3
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported netpbm maxval {maxval}")
    n = w * h * channels
    px = np.frombuffer(payload, np.uint8, count=n, offset=pos)
    if len(px) != n:
        raise ValueError("truncated netpbm raster")
    return w, h, channels, px


def _decode_any_image(payload: bytes):
    """(w, h, gray-flattened uint8): IMG1 fake or real netpbm; RGB reduces
    to luma-ish mean per pixel for the feature kernel."""
    if payload[:4] == b"IMG1":
        return _decode_fake(payload)
    w, h, c, px = decode_pnm(payload)
    if c == 3:
        px = px.reshape(-1, 3).mean(axis=1).astype(np.uint8)
    return w, h, px
