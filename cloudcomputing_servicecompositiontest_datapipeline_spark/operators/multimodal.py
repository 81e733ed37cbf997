"""Multimodal column carrier (SURVEY.md §2.12 X5): image/audio/video as
opaque ``binary`` columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

The container has no image/audio codecs, so the decode kernels are STUBBED
with a clearly-marked deterministic fake (see :func:`_fake_decode`) — the
Spark-side plumbing (schema, batch iteration, partition behavior, UDF
signatures) is real and tested; swapping the fake for PIL/ffmpeg is a
one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Output schema of the decode stage: original id + typed media metadata.
DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("content_sha", StringType()),
    ]
)

def _probe_real_codecs() -> bool:
    """Runtime codec probe: True when PIL is importable in THIS process.
    Called once per process (driver for the module flag, lazily per worker
    inside the kernels — a heterogeneous cluster can have codec-capable
    executors under a codec-less driver or vice versa)."""
    try:
        from PIL import Image  # noqa: F401

        return True
    except Exception:
        return False


#: Driver-side probe result; kernels re-probe per worker via _codecs_here().
HAVE_REAL_CODECS = _probe_real_codecs()

_CODECS_HERE: bool | None = None


def _codecs_here() -> bool:
    """Per-process cached probe (executors don't share the driver's import
    state; functools caching keeps it one import attempt per worker)."""
    global _CODECS_HERE
    if _CODECS_HERE is None:
        _CODECS_HERE = _probe_real_codecs()
    return _CODECS_HERE


def _real_decode(payload: bytes) -> tuple[int | None, int | None, int | None]:
    """Actual image decode via PIL; undecodable bytes surface as NULL dims
    (same convention as a NULL payload — corruption is surfaced, never
    hidden by silently falling back to the fake)."""
    import io

    from PIL import Image

    try:
        with Image.open(io.BytesIO(payload)) as im:
            width, height = im.size
            channels = len(im.getbands())
        return width, height, channels
    except Exception:
        return None, None, None


def _decode_dims(payload: bytes) -> tuple[int | None, int | None, int | None]:
    """Dispatch: real codec when present in this process, else the
    deterministic fake — the escape hatch that makes any image-capable
    environment exercise real decode with zero code change."""
    if _codecs_here():
        return _real_decode(payload)
    return _fake_decode(payload)


def attach_binary(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a multimodal carrier table: payload as ``binary`` (here derived
    from text — stands in for image bytes), content-addressed metadata struct.
    At 100 TB payloads live in parquet binary columns (or pointers to object
    storage) partitioned by content-hash prefix."""
    from ..sources.star import ensure_parallelism

    payload = F.encode(F.col(text_col), "UTF-8")
    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE decode (no codecs in this container): pretend the
    payload is an image and derive plausible dimensions from its digest.
    Replace with e.g. ``PIL.Image.open(io.BytesIO(payload)).size`` when real
    codecs are present."""
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    channels = 1 + d[2] % 4
    return width, height, channels


def decode_media(df: DataFrame) -> DataFrame:
    """Decode/feature-extract over Arrow batches via ``mapInPandas`` — the
    real multimodal execution pattern: Python kernel, vectorized transfer,
    per-partition streaming (bounded memory regardless of corpus size)."""
    if not isinstance(df.schema["payload"].dataType, BinaryType):
        raise TypeError("payload column must be binary")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL payload = missing/corrupt media: surface the row with
            # NULL decode fields (bytes(None) would kill the whole Arrow
            # task, and dropping the row would hide the corruption)
            payloads = pdf["payload"]
            dims = [
                _decode_dims(bytes(p)) if p is not None else (None, None, None)
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [
                        m["mime"] if m is not None else None for m in pdf["meta"]
                    ],
                    "n_bytes": [
                        len(bytes(p)) if p is not None else None for p in payloads
                    ],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "content_sha": [
                        hashlib.sha256(bytes(p)).hexdigest() if p is not None else None
                        for p in payloads
                    ],
                }
            )

    return df.mapInPandas(batches, DECODE_SCHEMA)


#: Output schema of the feature-extract stage: id + fixed-width embedding.
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("feature", StringType()),  # csv-joined floats: keeps the
        # driver canonicalizer array-free; parse with split+cast downstream
        StructField("dim", IntegerType()),
    ]
)


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction over the binary carrier via ``mapInPandas`` — the
    embedding stage of a multimodal pipeline (CLIP-style image encoder in
    production; DETERMINISTIC FAKE here: byte-histogram moments from the
    payload digest, stable across runs and engines).  Same Arrow-batch
    pattern as :func:`decode_media`: Python kernel, vectorized transfer,
    per-partition streaming, no shuffle introduced."""
    if not isinstance(df.schema["payload"].dataType, BinaryType):
        raise TypeError("payload column must be binary")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for p in pdf["payload"]:
                if p is None:  # missing media: NULL feature, row surfaced
                    feats.append(None)
                    continue
                d = hashlib.sha256(bytes(p)).digest()
                vec = [round(d[i] / 255.0, 6) for i in range(dim)]
                feats.append(",".join(f"{v:.6f}" for v in vec))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "feature": feats, "dim": [dim] * len(feats)}
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)
