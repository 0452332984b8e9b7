"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The decode step itself is STUBBED (no image/audio libraries in this
container): ``decode_image_stub`` raises NotImplementedError unless
``fake=True``, in which case it produces a deterministic fake feature
vector from the bytes — so the Spark-side plumbing (schema, partitioning,
UDF signature, Arrow batch shape) is real and tested end-to-end, and a
real decoder (PIL / torchvision / ffmpeg) drops in by replacing one
function.

At scale: binary payloads dominate row size — the media table is stored
with the binary column in its own parquet column (column pruning keeps
metadata-only scans cheap), partitioned by content type, and
``spark.sql.files.maxPartitionBytes`` sized so one task's Arrow batches
fit executor memory.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

def decode_image_stub(data: bytes, fake: bool = True) -> np.ndarray:
    """STUB for the image-decode step (no PIL/cv2 in this container).

    fake=True → deterministic pseudo-features from the sha256 of the bytes
    (stable across runs/parallelism); fake=False → NotImplementedError,
    the hook where a real decoder goes.
    """
    if not fake:
        raise NotImplementedError(
            "image decoding requires PIL/torchvision; not available here"
        )
    h = hashlib.sha256(data or b"").digest()
    return np.frombuffer(h[: FEATURE_DIM * 4], dtype=np.uint32).astype(np.float64) / 2**32


def media_metadata(df: DataFrame, id_col: str = "doc_id", bin_col: str = "html") -> DataFrame:
    """Typed metadata over the opaque binary column — pure JVM expressions
    (magic bytes → content sniff), no Python."""
    magic = F.hex(F.expr(f"substring({bin_col}, 1, 4)"))
    ctype = (
        F.when(magic.startswith("89504E47"), "image/png")
        .when(magic.startswith("FFD8FF"), "image/jpeg")
        .when(magic.startswith("47494638"), "image/gif")
        .otherwise("application/octet-stream")
    )
    return df.select(
        F.col(id_col).cast("long").alias("docid"),
        F.octet_length(bin_col).cast("long").alias("n_bytes"),
        magic.alias("magic_hex"),
        ctype.alias("content_type"),
    )


def extract_features(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "html", batch_size_hint: int = 64
) -> DataFrame:
    """binary → feature vector via mapInPandas (the real plumbing around the
    stubbed decode).  Yields in sub-batches so huge media rows don't pin one
    giant Arrow batch in memory.

    Output is EXPLODED ``(docid, dim, value)`` — one row per feature
    dimension, value rounded to 6 dp — so downstream comparators (and the
    driver's canonicalizer) see scalar columns, not nested arrays."""

    def run(batches):
        for pdf in batches:
            for start in range(0, len(pdf), batch_size_hint):
                chunk = pdf.iloc[start : start + batch_size_hint]
                feats = np.stack(
                    [decode_image_stub(b, fake=True) for b in chunk[bin_col]]
                ) if len(chunk) else np.empty((0, FEATURE_DIM))
                docids = chunk[id_col].astype("int64").to_numpy()
                yield pd.DataFrame(
                    {
                        "docid": np.repeat(docids, FEATURE_DIM),
                        "dim": np.tile(
                            np.arange(FEATURE_DIM, dtype=np.int32), len(chunk)
                        ),
                        "value": np.round(feats.ravel(), 6),
                    }
                )

    return df.select(id_col, bin_col).mapInPandas(
        run, schema="docid long, dim int, value double"
    )
