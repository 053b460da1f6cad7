"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

A media span carries a ``z/x/y`` tile ref, not pixels, so the
features are a deterministic payload-hash stand-in whose values a SQL
oracle can re-derive; the Spark-side plumbing (schema, partitioning,
UDF signature, Arrow batch shape) is that of a real decode stage.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = ("doc_id string, media_ref string, kind string, "
                  "width int, height int, n_bytes long, "
                  "features array<float>")


def synth_media_table(media: DataFrame) -> DataFrame:
    """Attach a deterministic opaque payload to each media span
    (stands in for fetched raster tiles): payload = md5-stream of the
    tile ref, sized by zoom."""
    return media.select(
        "doc_id", F.col("tile").alias("media_ref"),
        F.lit("image/png").alias("kind"),
        F.to_binary(F.md5("tile"), F.lit("hex")).alias("payload"),
        F.lit(256).alias("width"), F.lit(256).alias("height"))


def _md5_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in features: component j is the top 24 md5
    bits of ``hex(payload)#j`` scaled to [0, 1).  24-bit dyadic
    rationals are exactly representable in float32, so the values are
    engine-portable bit-for-bit (the driver's DuckDB oracle re-derives
    them in SQL — an RNG-based stand-in would not be checkable)."""
    hx = payload.hex()
    out = np.empty(dim, np.float32)
    for j in range(dim):
        h = hashlib.md5(f"{hx}#{j}".encode()).hexdigest()
        out[j] = int(h[:6], 16) / float(1 << 24)
    return out


def extract_features(media_bin: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the real
    batch shape a decode/resize/embed stage would use (one Arrow batch
    in, one out; no per-row Python UDF)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_md5_features(p, dim).tolist() for p in pdf["payload"]]
            out = pdf[["doc_id", "media_ref", "kind", "width", "height"]].copy()
            out["n_bytes"] = pdf["payload"].map(len).astype("int64")
            out["features"] = feats
            yield out

    return media_bin.mapInPandas(run, FEATURE_SCHEMA)
