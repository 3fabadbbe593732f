"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct —
exactly how the engine treats ``html``.  The Spark-side machinery
(schema, Arrow batch shape, mapInPandas signatures, partition sizing)
is real and tested; the *codec* step is stubbed behind a deterministic
fake because no image/audio libraries exist in this container (marked
``NotImplementedError`` on the real path).

≡ the reference's sensor-specific scan adapters
(`eodal/core/sensors/sentinel2.py:246-430` etc.): schema-mapped reads +
per-band decode kernels, here re-cast as mapInPandas feature extractors.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean_milli", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def real_decode(payload: bytes) -> np.ndarray:  # pragma: no cover
    """The real codec hook (PIL/ffmpeg/soundfile in production).

    Cited stub: the container ships no media libraries; swap this for
    e.g. ``PIL.Image.open(io.BytesIO(payload))`` on a real cluster."""
    raise NotImplementedError("media codecs not available in this container")


def fake_decode(payload: np.ndarray) -> np.ndarray:
    """Deterministic stand-in decode: interpret bytes as a uint8 stream.
    Keeps the full Arrow-batch shape of the real path."""
    return np.frombuffer(payload, dtype=np.uint8)


def extract_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id",
    dim: int = 8,
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Batch shape is the production one: Arrow delivers the binary column
    as a numpy object array of bytes; the per-batch loop calls the codec
    per payload (unavoidable — codecs are per-object), while the feature
    math is vectorized numpy."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, mean_mil, feats = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = fake_decode(payload)
                ids.append(doc_id)
                nb.append(len(raw))
                # exact integer mean*1000 (floor) — oracle-reproducible
                mean_mil.append(
                    int(raw.astype(np.int64).sum()) * 1000 // len(raw)
                    if len(raw)
                    else 0
                )
                # "resize": bucket the byte stream into `dim` equal bins
                if len(raw):
                    bins = np.array_split(raw.astype(np.float32), dim)
                    feats.append(np.array([b.mean() if len(b) else 0.0 for b in bins], dtype=np.float32))
                else:
                    feats.append(np.zeros(dim, dtype=np.float32))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": nb,
                    "byte_mean_milli": mean_mil,
                    "feature": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(gen, FEATURE_SCHEMA)


def frame_sample(df: DataFrame, payload_col: str, every_n: int, frame_bytes: int) -> DataFrame:
    """Frame sampling plumbing: split a binary stream into fixed-size
    "frames" and keep every n-th — native byte slicing via substring on
    binary (no UDF); the real path would substitute codec-aware cuts."""
    n_frames = F.floor(F.length(payload_col) / frame_bytes).cast("int")
    # payloads shorter than one frame yield an EMPTY array — the old
    # greatest(n-1, 0) clamp leaked a phantom partial frame for them
    idx = F.when(
        n_frames >= 1, F.sequence(F.lit(0), n_frames - 1)
    ).otherwise(F.array().cast("array<int>"))
    frames = F.filter(idx, lambda i: i % every_n == 0)
    return df.select(
        "*",
        F.transform(
            frames,
            lambda i: F.substring(F.col(payload_col), (i * frame_bytes + 1).cast("int"), frame_bytes),
        ).alias("frames"),
    )
