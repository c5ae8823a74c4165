"""Multimodal columns (driver mandate): image/audio/video as opaque
``binary`` payloads + typed metadata; decode / feature-extract /
frame-sample as Arrow-batched kernels over ``mapInPandas``.

No image/audio codec is a dependency, so the decode step is a STUB
(clearly marked): ``decode_asset`` is a deterministic fake decoder, used
by the tests and the ``mm_*`` oracles. The Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested;
swapping the stub for PIL/ffmpeg changes one function body.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_SCHEMA = (
    "asset_id long, kind string, n_bytes int, payload_sha string, "
    "meta_width int, meta_height int, n_frames_sampled int, "
    "feat_mean double, feat_std double"
)


def synth_assets(docs: DataFrame) -> DataFrame:
    """Deterministic fake asset table from a documents table: the text
    bytes act as the opaque payload; metadata derived from doc_id.
    (No external data — driver mandate.)"""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (16 + F.col("doc_id") % 64).cast("int").alias("meta_width"),
        (16 + F.col("doc_id") % 48).cast("int").alias("meta_height"),
        (1000 + F.col("doc_id") % 9000).cast("int").alias("meta_duration_ms"),
    )


def decode_asset(payload: bytes, kind: str, width: int, height: int):
    """STUB decoder: deterministic pseudo-pixels from payload bytes.

    A real implementation would be: PIL.Image.open(BytesIO(payload)) /
    soundfile.read / pyav frame iteration. The fake keeps the exact same
    output contract (frame count, float feature moments).
    """
    n = len(payload)
    n_frames = 1 if kind == "image" else (3 if kind == "audio" else 5)
    # deterministic "pixel" stream: payload bytes strided
    step = max(1, n // 32)
    sample = payload[::step][:64]
    vals = [b / 255.0 for b in sample]
    mean = sum(vals) / len(vals) if vals else 0.0
    var = sum((v - mean) ** 2 for v in vals) / len(vals) if vals else 0.0
    # floor-half-up rounding (not Python's banker's round) so the closed
    # form is reproducible verbatim in the DuckDB oracle
    rnd = lambda x: math.floor(x * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return n_frames, rnd(mean), rnd(var**0.5)


def extract_features(assets: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas kernel: one asset row -> one feature row.

    Arrow-batched; at scale this is the GPU/codec boundary — one codec
    context per executor, never per row (same shape as the E3 encoder).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples(index=False):
                payload = bytes(r.payload)
                n_frames, fmean, fstd = decode_asset(
                    payload, r.kind, r.meta_width, r.meta_height
                )
                rows.append(
                    (
                        r.asset_id,
                        r.kind,
                        len(payload),
                        hashlib.sha256(payload).hexdigest(),
                        r.meta_width,
                        r.meta_height,
                        n_frames,
                        fmean,
                        fstd,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "kind", "n_bytes", "payload_sha",
                    "meta_width", "meta_height", "n_frames_sampled",
                    "feat_mean", "feat_std",
                ],
            )

    return assets.mapInPandas(run, schema=FEATURES_SCHEMA)


def asset_meta(assets: DataFrame) -> DataFrame:
    """Pure-JVM metadata projection (no decode): sizes + payload hash —
    the part of the multimodal path that never leaves codegen."""
    return assets.select(
        "asset_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
        "meta_width",
        "meta_height",
    )
