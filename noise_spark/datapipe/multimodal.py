"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns with
a small typed metadata struct. The Spark-side plumbing — schema,
Arrow-batch shape, ``mapInPandas`` UDF signature, partition sizing — is
real and tested; the actual media decode is STUBBED (the sandbox has no
image/audio libraries): ``decode_image`` raises ``NotImplementedError``
unless a deterministic fake decoder is injected (tests do this).

At scale the pattern is: keep payloads in their own column/table
(parquet binary, large row groups), process with ``mapInPandas`` so
each Arrow batch amortizes the Python hop, and cap
``spark.sql.execution.arrow.maxRecordsPerBatch`` by payload size so a
batch of decoded frames fits executor memory.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)


def decode_image(payload: bytes) -> "object":
    """Media decode stub — no codec libraries in this container."""
    raise NotImplementedError(
        "media decode requires an image/audio library not present in this "
        "environment; inject a decoder via extract_features(decoder=...)"
    )


def binary_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap metadata that never decodes: byte length + magic prefix."""
    return df.select(
        "*",
        F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.hex(F.substring(F.col(payload_col), 1, 4)).alias("magic_hex"),
    )


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], list] | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
    feature_dim: int = 8,
) -> DataFrame:
    """Arrow-batched decode → feature-vector extraction.

    ``decoder(payload) -> list[float]`` runs once per payload inside a
    ``mapInPandas`` batch (the only place Python touches rows, amortized
    per Arrow batch). Without an injected decoder the stub raises
    ``NotImplementedError`` here, on the driver, before any Spark job
    starts — the plumbing is still exercised by tests via a
    deterministic fake decoder."""
    if decoder is None:
        decode_image(b"")  # raises NotImplementedError
    dec = decoder

    def fn(iterator):
        for pdf in iterator:
            feats = []
            for payload in pdf[payload_col]:
                feats.append([float(x) for x in dec(bytes(payload))][:feature_dim])
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "feature": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(fn, schema=FEATURES_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: computes the frame timestamps to
    extract from the typed metadata only (no decode): one row per
    (media_id, frame_ts_ms). The decode of each frame would plug into
    extract_features the same way."""
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("meta.duration_ms"), F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
