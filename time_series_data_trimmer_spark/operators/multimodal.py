"""Multimodal (image/audio/video) column operators.

Media is modeled the way a 100 TB lake stores it: an opaque ``binary``
payload column plus typed metadata (mime, width/height, sample rate,
duration), one row per asset. All pipeline plumbing — schemas, Arrow
batch shapes, partitioning, UDF signatures — is real and tested; ONLY
the codec calls (JPEG decode, audio resample, video frame extraction)
are stubbed, because no media libraries ship in this container:

* ``decode=\"fake\"`` (default): a deterministic md5-seeded fake decoder
  producing stable feature vectors / frame tensors — CI-testable.
* ``decode=\"real\"``: raises ``NotImplementedError`` at the exact call
  site where Pillow / torchaudio / PyAV would be invoked, with the
  integration point documented.

Scale notes: payloads stay in executor memory only for the duration of
one Arrow batch (``mapInPandas`` streams batches; tune
``spark.sql.execution.arrow.maxRecordsPerBatch`` down for large
assets). Feature extraction keys by asset id — no shuffle at all; the
pipeline is scan → batch UDF → write.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: canonical asset schema for media tables
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("sample_rate_hz", LongType(), True),
        StructField("duration_s", DoubleType(), True),
    ]
)

FEATURE_DIM = 16


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic pseudo-features from the payload digest: each
    feature is an 8-hex-digit slice of iterated md5, mapped to [-1, 1)."""
    out = []
    h = hashlib.md5(payload or b"").hexdigest()
    while len(out) < dim:
        for i in range(0, len(h) - 7, 8):
            out.append(int(h[i : i + 8], 16) / float(2**31) - 1.0)
            if len(out) == dim:
                break
        h = hashlib.md5(h.encode()).hexdigest()
    return out


def _decode_image_real(payload: bytes) -> np.ndarray:  # pragma: no cover
    raise NotImplementedError(
        "real image decode requires Pillow/opencv (not in this container); "
        "integration point: PIL.Image.open(io.BytesIO(payload)) → np.asarray"
    )


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    decode: str = "fake",
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """Batch feature extraction: binary payload → ``array<double>``.

    ``mapInPandas`` streams Arrow batches through Python; output schema
    is (id, features) only, so payload bytes never reach the shuffle or
    the driver."""
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("features", ArrayType(DoubleType()), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "fake":
                feats = [
                    _fake_features(p if p is not None else b"", dim)
                    for p in pdf[payload_col]
                ]
            else:
                feats = [_decode_image_real(p) for p in pdf[payload_col]]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.mapInPandas(run, schema=out_schema)


def image_resize_stub(
    df: DataFrame,
    target_w: int,
    target_h: int,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    decode: str = "fake",
) -> DataFrame:
    """Resize plumbing: returns (id, width, height, payload) with the
    fake path re-digesting the payload so outputs are deterministic and
    size-metadata updates are exercised end-to-end."""
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField(payload_col, BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode != "fake":
                _decode_image_real(b"")
            payloads = [
                hashlib.md5((p or b"") + f"|{target_w}x{target_h}".encode()).digest()
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": [target_w] * len(pdf),
                    "height": [target_h] * len(pdf),
                    payload_col: payloads,
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def frame_sample_stub(
    df: DataFrame,
    every_s: float,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    decode: str = "fake",
) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    (id, frame_idx, frame_time_s, frame_payload). The fake path derives
    frame count from ``duration_s`` metadata and fabricates stable
    per-frame digests; the real path is the PyAV integration point."""
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("frame_idx", LongType(), False),
            StructField("frame_time_s", DoubleType(), True),
            StructField("frame_payload", BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode != "fake":
                _decode_image_real(b"")
            rows = {id_col: [], "frame_idx": [], "frame_time_s": [], "frame_payload": []}
            for _, row in pdf.iterrows():
                duration = float(row.get("duration_s") or 0.0)
                n = max(1, int(duration / every_s)) if every_s > 0 else 1
                for k in range(n):
                    rows[id_col].append(row[id_col])
                    rows["frame_idx"].append(k)
                    rows["frame_time_s"].append(k * every_s)
                    rows["frame_payload"].append(
                        hashlib.md5((row[payload_col] or b"") + f"|frame{k}".encode()).digest()
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def synthetic_assets(spark, n: int = 20, kind: str = "image") -> DataFrame:
    """Deterministic synthetic asset table for tests/demos."""
    rows = []
    for i in range(n):
        payload = hashlib.md5(f"{kind}|{i}".encode()).digest() * 4
        if kind == "image":
            rows.append((i, "image/jpeg", payload, 640, 480, None, None))
        elif kind == "audio":
            rows.append((i, "audio/wav", payload, None, None, 16000, 2.5 + i))
        else:
            rows.append((i, "video/mp4", payload, 1280, 720, None, 10.0 + i))
    return spark.createDataFrame(rows, ASSET_SCHEMA)
