"""Multimodal (image/audio/video) column plumbing.

Media travels as opaque ``binary`` columns with typed metadata — the only
sane representation at 100 TB (no JVM object blow-up, Parquet stores bytes
contiguously, column pruning skips payloads when queries touch only
metadata). Decode / feature-extract run as Arrow-batched ``mapInPandas``
kernels: one Python worker per partition, whole Arrow record batches in
and out, never per-row.

The actual codecs (PIL/ffmpeg/etc.) are NOT in this container, so the
decode step is STUBBED: ``decode_stub=True`` computes deterministic fake
features (byte-length, md5-derived pseudo-dimensions); with
``decode_stub=False`` the kernel raises NotImplementedError where the real
library call belongs. The Spark-side plumbing — schema, batch shape,
partitioning — is real and tested either way.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal row: payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload_md5", T.StringType(), True),
    ]
)


def _decode_batch(pdf: pd.DataFrame, stub: bool) -> pd.DataFrame:
    out = {
        "media_id": pdf["media_id"],
        "kind": pdf["kind"],
        "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else None),
    }
    if not stub:
        # real implementation: PIL.Image.open(io.BytesIO(b)) / av.open(...)
        raise NotImplementedError("media codecs not available in this environment")
    md5s = pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest() if b is not None else None)
    # deterministic pseudo-dimensions derived from the payload hash: the
    # fake stands in for decoder output, stable across runs/partitions
    out["width"] = md5s.map(lambda h: 16 + int(h[:4], 16) % 4080 if h else None).astype("Int32")
    out["height"] = md5s.map(lambda h: 16 + int(h[4:8], 16) % 4080 if h else None).astype("Int32")
    out["duration_ms"] = md5s.map(lambda h: int(h[8:13], 16) if h else None).astype("Int64")
    out["payload_md5"] = md5s
    df = pd.DataFrame(out)
    img = df["kind"] == "image"
    df.loc[img, "duration_ms"] = None
    df.loc[~img, ["width", "height"]] = None
    return df


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """media rows -> per-item features via Arrow-batched mapInPandas.

    Multi-MB media blobs are bounded by the session's byte-denominated
    Arrow batch cap (``arrow.maxBytesPerBatch``, session.get_spark), so a
    batch of fat items shrinks instead of the executor."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _decode_batch(pdf, decode_stub)

    cols = ["media_id", "kind", "payload"]
    return media.select(*cols).mapInPandas(kernel, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame timestamp.
    The explode happens JVM-side from the (stub-)decoded duration so the
    expensive per-frame decode fans out across executors."""
    feats = extract_features(media.where(F.col("kind") == "video"))
    return feats.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.coalesce(F.col("duration_ms"), F.lit(0)),
                F.lit(int(every_ms)).cast("long"),
            )
        ).alias("frame_ts_ms"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media fixture: document text bytes as the payload —
    stands in for real image/audio blobs in tests and oracles."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
