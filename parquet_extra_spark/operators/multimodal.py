"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns plus typed metadata — the same
pattern as the engine's chunk payloads. The Spark-side machinery here is
real and tested: schemas, Arrow-batched mapInPandas UDFs, partition-aware
batching, deterministic fake feature extraction for tests. The actual
media decoding (PIL/ffmpeg/librosa) is NOT available in this container,
so decode kernels are stubbed behind ``NotImplementedError`` with a
deterministic fake path (``fake=True``) that derives features from the
bytes alone — making every downstream stage executable and verifiable.

At 100 TB the shape matters more than the kernel: binary payloads are
kept out of shuffles (feature extraction is a map-only mapInPandas; no
groupBy touches the blobs), batch sizes are bounded by Arrow's
maxRecordsPerBatch, and metadata-only projections never deserialize the
payload column (Parquet column pruning).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..engine.worker import kernel

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FEATURE_DIM = 32

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def synth_media(spark, n: int = 256, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded pseudo-random bytes
    with a kind-specific magic header) for exercising the plumbing."""
    rows = []
    kinds = ["image", "audio", "video"]
    magics = {"image": b"\x89PNG", "audio": b"RIFF", "video": b"\x00\x00\x01\xba"}
    for i in range(n):
        kind = kinds[i % 3]
        h = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        payload = magics[kind] + h * (4 + i % 13)
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mpeg"}[kind],
                64 + i % 512 if kind != "audio" else None,
                64 + (i * 7) % 512 if kind != "audio" else None,
                (1000 + i * 33) if kind != "image" else None,
                payload,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _real_decode_batch(kind: str, payloads: list[bytes]):  # pragma: no cover - container has no media libs
    """Kernel entry point for a whole same-kind sub-batch. Real kernels
    (PIL/ffmpeg/librosa) would decode the list in one vectorized call per
    kind — the per-kind dispatch happens ONCE per batch, never per row."""
    raise NotImplementedError(
        f"real {kind} decoding requires PIL/ffmpeg/librosa, which are not "
        "installed in this environment; run with fake=True for the "
        "deterministic byte-derived feature path"
    )


def _payload_bytes(col: pd.Series) -> list[bytes]:
    return [bytes(x) if x is not None else b"" for x in col]


def _fake_features_batch(payloads: list[bytes]) -> np.ndarray:
    """Deterministic stand-in features for a WHOLE batch: per-row byte
    histograms computed in one vectorized pass (concat buffer + segment
    ids + np.add.at), then folded to FEATURE_DIM moments. No per-row
    Python in the numeric path — the pattern real kernels must follow."""
    n = len(payloads)
    lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
    if n == 0 or int(lens.sum()) == 0:
        return np.zeros((n, FEATURE_DIM), dtype=np.float32)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    row_ids = np.repeat(np.arange(n), lens)
    hist = np.zeros((n, 256), dtype=np.float64)
    np.add.at(hist, (row_ids, buf), 1.0)
    hist /= np.maximum(1.0, lens.astype(np.float64))[:, None]
    return hist.reshape(n, FEATURE_DIM, 256 // FEATURE_DIM).sum(axis=2).astype(np.float32)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Map-only Arrow-batched feature extraction — the blob never crosses a
    shuffle. With fake=False this raises NotImplementedError from the
    executors (the real kernels need media libraries). Batch-vectorized:
    kind dispatch is per sub-batch, features are one numpy pass; only the
    sha256 digest runs per value (cryptographic hashing has no batch API;
    the work is C-level inside hashlib)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = _payload_bytes(pdf["payload"])
            if not fake:
                for kind, sub in pdf.groupby("kind"):
                    _real_decode_batch(kind, _payload_bytes(sub["payload"]))
            feats = _fake_features_batch(payloads)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(b) for b in payloads],
                    "sha256": [hashlib.sha256(b).hexdigest() for b in payloads],
                    "feature": list(feats),
                }
            )

    return media.mapInPandas(kernel(fn), schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, ts_ms) to decode.
    Pure Catalyst (sequence + explode) — the expensive decode would consume
    this plan with mapInPandas; here the planning stage is real and tested."""
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", "duration_ms"
    )
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("ts_ms"),
    )


def resize_stub(media: DataFrame, width: int, height: int, fake: bool = True) -> DataFrame:
    """Image resize plumbing: metadata transforms are Catalyst expressions;
    the pixel kernel is stubbed (deterministic payload hash re-tag when
    fake=True, NotImplementedError otherwise)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = _payload_bytes(pdf["payload"])
            if not fake:
                _real_decode_batch("image", payloads)
            # fake resize: deterministic content transform retaining magic;
            # sha256 is the only per-value step (no batch digest API)
            pdf = pdf.copy()
            pdf["payload"] = [b[:4] + hashlib.sha256(b).digest() for b in payloads]
            pdf["width"] = width
            pdf["height"] = height
            yield pdf

    imgs = media.filter(F.col("kind") == "image")
    return imgs.mapInPandas(kernel(fn), schema=MEDIA_SCHEMA)
