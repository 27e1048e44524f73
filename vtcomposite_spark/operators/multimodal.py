"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow batching via mapInPandas,
partition-preserving transforms — and so are the codecs for UNCOMPRESSED
standard formats, implemented in pure numpy from the public specs:

* images: netpbm P5 (PGM, grayscale) and P6 (PPM, RGB) — decode, feature
  extraction, nearest-neighbor resize, re-encode;
* audio: RIFF/WAVE PCM16 — decode + real DSP features (RMS, zero-crossing
  rate, dominant frequency via rFFT);
* video: YUV4MPEG2 (y4m, C420/Cmono) — header + FRAME parsing, every-n-th
  frame sampling, luma planes re-emitted as PGM rows.

COMPRESSED codecs (JPEG/PNG/Opus/H.264) need external libraries this
container does not ship; ``codec="real"`` raises NotImplementedError at
the exact seam where Pillow/ffmpeg would plug in — everything around the
seam (schemas, batching, fan-out shapes) is identical either way.

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
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
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


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbor resize, format-preserving: IMG1→IMG1, P5→P5,
    P6→P6 (RGB resizes per channel). Binary in → binary out through
    Arrow batches."""

    def one(payload: bytes) -> bytes:
        if payload[:4] == b"IMG1":
            w, h, px = _decode_fake(payload)
            img = px.reshape(h, w)
            yi = (np.arange(height) * h // height)
            xi = (np.arange(width) * w // width)
            return (b"IMG1" + struct.pack("<HH", width, height)
                    + img[np.ix_(yi, xi)].astype(np.uint8).tobytes())
        w, h, c, px = decode_pnm(payload)
        yi = (np.arange(height) * h // height)
        xi = (np.arange(width) * w // width)
        if c == 1:
            return encode_pgm(px.reshape(h, w)[np.ix_(yi, xi)])
        return encode_ppm(px.reshape(h, w, 3)[np.ix_(yi, xi)])

    def kernel(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "payload": [one(bytes(p)) for p in pdf["payload"]]})

    schema = T.StructType([T.StructField("media_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return media.select("media_id", "payload").mapInPandas(kernel, schema)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Back-compat alias for ``resize_image`` (which is no longer a stub)."""
    return resize_image(media, width, height)


# ---------------------------------------------------------------------------
# real codecs for uncompressed standard formats (pure numpy, from the specs)
# ---------------------------------------------------------------------------

def encode_pgm(img: np.ndarray) -> bytes:
    """2-D uint8 → netpbm P5 (binary graymap, maxval 255)."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → netpbm P6 (binary pixmap, maxval 255)."""
    h, w, c = img.shape
    assert c == 3
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


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


WAV_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossing_rate", T.DoubleType()),
    T.StructField("dominant_freq_hz", T.DoubleType()),
])


def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """mono int16 → RIFF/WAVE PCM."""
    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
        1, 1, rate, rate * 2, 2, 16, b"data", len(data))
    return hdr + data


def decode_wav_pcm16(payload: bytes):
    """RIFF/WAVE chunk walk → (rate, mono int16 samples). PCM16 only —
    compressed audio is the external-codec seam."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, nch, data = 12, None, 1, None
    while pos + 8 <= len(payload):
        cid, sz = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt, nch, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or bits != 16:
                raise ValueError("only PCM16 WAV is decodable without "
                                 "external codecs")
        elif cid == b"data":
            data = np.frombuffer(body, "<i2")
        pos += 8 + sz + (sz & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if nch > 1:
        data = data.reshape(-1, nch).mean(axis=1).astype(np.int16)
    return rate, data


def decode_audio(media: DataFrame) -> DataFrame:
    """WAV payloads → real DSP features: RMS, zero-crossing rate, dominant
    frequency (rFFT magnitude peak). Arrow-batched mapInPandas."""

    def kernel(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = {k.name: [] for k in WAV_FEATURES_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, x = decode_wav_pcm16(bytes(payload))
                xf = x.astype(np.float64) / 32768.0
                n = len(xf)
                spec = np.abs(np.fft.rfft(xf))
                spec[0] = 0.0  # ignore DC
                out["media_id"].append(int(mid))
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_s"].append(n / rate)
                out["rms"].append(float(np.sqrt(np.mean(xf * xf))))
                out["zero_crossing_rate"].append(
                    float(np.mean(np.signbit(xf[1:]) != np.signbit(xf[:-1]))))
                out["dominant_freq_hz"].append(
                    float(np.argmax(spec) * rate / n))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=WAV_FEATURES_SCHEMA)


def decode_y4m_frames(payload: bytes):
    """YUV4MPEG2 (C420/C420jpeg/C420paldv/Cmono) → (w, h, [luma planes]).
    Chroma is parsed (sized) but only luma is returned."""
    end = payload.index(b"\n")
    head = payload[:end].split(b" ")
    if head[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    csp = b"420"
    for p in head[1:]:
        if p[:1] == b"W":
            w = int(p[1:])
        elif p[:1] == b"H":
            h = int(p[1:])
        elif p[:1] == b"C":
            csp = p[1:]
    if not w or not h:
        raise ValueError("y4m missing W/H")
    if csp.startswith(b"420"):
        frame_bytes = w * h * 3 // 2
    elif csp == b"mono":
        frame_bytes = w * h
    else:
        raise ValueError(f"unsupported y4m colourspace {csp!r}")
    frames = []
    pos = end + 1
    while pos < len(payload):
        fe = payload.index(b"\n", pos)
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("corrupt y4m FRAME marker")
        pos = fe + 1
        luma = np.frombuffer(payload, np.uint8, count=w * h, offset=pos)
        if len(luma) != w * h:
            raise ValueError("truncated y4m frame")
        frames.append(luma)
        pos += frame_bytes
    return w, h, frames


def encode_y4m(frames: list[np.ndarray], w: int, h: int) -> bytes:
    """Luma-plane frames → YUV4MPEG2 C420 (flat 128 chroma)."""
    out = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)]
    chroma = np.full(w * h // 2, 128, np.uint8).tobytes()
    for f in frames:
        out.append(b"FRAME\n")
        out.append(f.astype(np.uint8).tobytes())
        out.append(chroma)
    return b"".join(out)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """y4m video payloads → one row per SAMPLED frame (frame 0, n, 2n, …),
    each frame re-emitted as a real PGM of its luma plane. The 1-row →
    N-rows fan-out every frame pipeline needs, with a real container
    format; compressed video stays behind the ``codec='real'`` seam."""

    def kernel(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, fnos, payloads = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, frames = decode_y4m_frames(bytes(payload))
                for fno in range(0, len(frames), every_n):
                    ids.append(int(mid))
                    fnos.append(fno)
                    payloads.append(encode_pgm(frames[fno].reshape(h, w)))
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "frame_no": pd.Series(fnos, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("media_id", T.LongType()),
                           T.StructField("frame_no", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return media.select("media_id", "payload").mapInPandas(kernel, schema)


def synthesize_audio(spark: SparkSession, n: int, rate: int = 8000,
                     seconds: float = 0.25, partitions: int = 4) -> DataFrame:
    """Deterministic WAV table: mono PCM16 sine per id (freq 200+10·id Hz)."""

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = {"media_id": [], "kind": [], "payload": [], "meta": []}
            t = np.arange(int(rate * seconds)) / rate
            for i in pdf["id"]:
                i = int(i)
                f = 200.0 + 10.0 * i
                x = (0.5 * np.sin(2 * np.pi * f * t) * 32767).astype(np.int16)
                out["media_id"].append(i)
                out["kind"].append("audio")
                out["payload"].append(encode_wav_pcm16(x, rate))
                out["meta"].append({"rate": str(rate), "freq": str(f)})
            yield pd.DataFrame(out)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)


def synthesize_video(spark: SparkSession, n: int, w: int = 16, h: int = 16,
                     partitions: int = 4) -> DataFrame:
    """Deterministic y4m table: 3 + id%5 gradient frames per id."""

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for i in pdf["id"]:
                i = int(i)
                nf = 3 + i % 5
                frames = [((np.arange(w * h) + i + 17 * f) % 256)
                          .astype(np.uint8) for f in range(nf)]
                out["media_id"].append(i)
                out["kind"].append("video")
                out["payload"].append(encode_y4m(frames, w, h))
                out["meta"].append({"frames": str(nf), "w": str(w), "h": str(h)})
            yield pd.DataFrame(out)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)
