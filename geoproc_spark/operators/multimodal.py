"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing is real — schemas, partitioning, Arrow batch
shapes, mapInPandas signatures — while the codec layer is a deterministic
fake (this container ships no image/audio libraries): payloads carry a tiny
pinned header, and `decode_*` for any real codec raises NotImplementedError
with the integration point documented. Swapping in PIL/ffmpeg touches ONLY
`_decode_fake` call sites.

Payload format ("FAKE" codec, pinned):
    bytes 0..3   width  (uint32 BE)         images: pixels; audio: samples
    bytes 4..7   height (uint32 BE)         images: pixels; audio/video: 1
    bytes 8..11  n_frames (uint32 BE)       video: frames; else 1
    bytes 12..   payload body: repeating md5 stream seeded by asset_id
                 (width*height*n_frames bytes, one "band")

Scale notes: payloads are the FAT column — every operator here projects
metadata first and decodes only inside mapInPandas, batch-bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`; nothing ever collects a
payload to the driver. Feature rows (small, numeric) are what joins and
aggregations run on.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import _small

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("codec", T.StringType()),  # only "FAKE" decodable here
        T.StructField("payload", T.BinaryType()),
    ]
)

FEATURE_SCHEMA = (
    "asset_id long, kind string, width int, height int, n_frames int, "
    "n_bytes long, mean_byte double, checksum bigint"
)


def _body(asset_id: int, n: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{asset_id}:{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


def make_payload(asset_id: int, kind: str) -> bytes:
    """Deterministic fake asset; shapes derive from asset_id."""
    if kind == "image":
        w, h, f = 8 + asset_id % 24, 8 + (asset_id * 7) % 24, 1
    elif kind == "audio":
        w, h, f = 64 + (asset_id * 13) % 192, 1, 1
    else:  # video
        w, h, f = 8 + asset_id % 8, 8 + (asset_id * 3) % 8, 2 + asset_id % 6
    return struct.pack(">III", w, h, f) + _body(asset_id, w * h * f)


def assets_df(spark: SparkSession, n: int = 200) -> DataFrame:
    kinds = ["image", "audio", "video"]
    rows = [
        (i, kinds[i % 3], "FAKE", make_payload(i, kinds[i % 3])) for i in range(n)
    ]
    return _small.frame(spark, rows, ASSET_SCHEMA, "assets_df", "pass a smaller n")


def _decode_fake(codec: str, payload: bytes):
    """(width, height, n_frames, body ndarray[uint8]). The real-codec hook."""
    if codec != "FAKE":
        raise NotImplementedError(
            f"codec {codec!r}: plug a real decoder (PIL/ffmpeg) here — the "
            "surrounding Spark plumbing (schema, batching, partitioning) is "
            "codec-agnostic"
        )
    w, h, f = struct.unpack(">III", payload[:12])
    body = np.frombuffer(payload[12:], dtype=np.uint8)
    return w, h, f, body


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode + per-asset features, Arrow-batched (one pandas batch of
    payloads in, one small numeric batch out)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, kind, codec, payload in zip(
                pdf["asset_id"], pdf["kind"], pdf["codec"], pdf["payload"]
            ):
                w, h, f, body = _decode_fake(codec, bytes(payload))
                out.append(
                    (
                        int(aid),
                        kind,
                        w,
                        h,
                        f,
                        len(body),
                        float(body.mean()),
                        int(body.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "kind",
                    "width",
                    "height",
                    "n_frames",
                    "n_bytes",
                    "mean_byte",
                    "checksum",
                ],
            )

    return assets.mapInPandas(run, FEATURE_SCHEMA)


def resize_images(assets: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of image assets -> new payloads (same fake
    format). Demonstrates the transform-shape: binary in, binary out, sizes
    change, schema doesn't."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, codec, payload in zip(
                pdf["asset_id"], pdf["kind"], pdf["codec"], pdf["payload"]
            ):
                if kind != "image":
                    continue
                w, h, _f, body = _decode_fake(codec, bytes(payload))
                img = body.reshape(h, w)
                yi = (np.arange(out_h) * h // out_h).astype(np.int64)
                xi = (np.arange(out_w) * w // out_w).astype(np.int64)
                resized = img[yi][:, xi]
                new_payload = struct.pack(">III", out_w, out_h, 1) + resized.tobytes()
                rows.append((int(aid), kind, codec, new_payload))
            yield pd.DataFrame(rows, columns=["asset_id", "kind", "codec", "payload"])

    return assets.mapInPandas(run, ASSET_SCHEMA)


def sample_frames(assets: DataFrame, every_k: int = 2) -> DataFrame:
    """Video frame sampling: one output row per kept frame, with the frame
    as an image payload — the explode-shaped multimodal operator."""
    out_schema = "asset_id long, frame_idx int, payload binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, codec, payload in zip(
                pdf["asset_id"], pdf["kind"], pdf["codec"], pdf["payload"]
            ):
                if kind != "video":
                    continue
                w, h, f, body = _decode_fake(codec, bytes(payload))
                frames = body.reshape(f, h * w)
                for idx in range(0, f, every_k):
                    frame_payload = (
                        struct.pack(">III", w, h, 1) + frames[idx].tobytes()
                    )
                    rows.append((int(aid), idx, frame_payload))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "payload"])

    return assets.mapInPandas(run, out_schema)


def numpy_oracle_features(n: int = 200) -> list[tuple]:
    """Driver-side oracle twin of extract_features over assets_df(n)."""
    kinds = ["image", "audio", "video"]
    out = []
    for i in range(n):
        kind = kinds[i % 3]
        w, h, f, body = _decode_fake("FAKE", make_payload(i, kind))
        out.append(
            (i, kind, w, h, f, len(body), float(body.mean()), int(body.astype(np.int64).sum()))
        )
    return out
