"""Batched model-inference harness (SURVEY.md §2.12 X28): the plumbing a
model-based quality filter / embedding encoder needs on Spark — Arrow-batched
``mapInPandas`` with load-once-per-task model initialization and vectorized
scoring — with the model itself STUBBED by a deterministic closed-form
classifier (this container ships no torch/onnx; swapping :func:`_load_model`
for a real checkpoint is the only change).

Why this shape at 100 TB: model scoring is the one pipeline stage that
genuinely cannot be a built-in expression, so the harness controls the two
costs that dominate there — (a) model load is per *task*, not per batch or
per row (the iterator-of-batches contract lets the closure initialize once
and stream every Arrow batch through it); (b) batch size is explicit
(``spark.sql.execution.arrow.maxRecordsPerBatch``) so accelerator memory is
sized deliberately, not by row-group accident.  Scoring is pure map — no
shuffle; co-partitioning with the upstream scan is preserved.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.star import ensure_parallelism

#: Output schema of the scoring stage.
SCORE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("distinct_ratio", DoubleType()),
        StructField("score", DoubleType()),
        StructField("model_version", StringType()),
    ]
)

MODEL_VERSION = "stub-logreg-v1"

#: Fixed stub weights: (bias, w_distinct_ratio, w_log1p_tokens).
_WEIGHTS = (-1.5, 3.0, 0.25)

#: Decimals scores are floor-rounded to, here and in the SQL twin.
ROUND_SCALE = 6


def _load_model():
    """STUB model loader — stands in for torch.load / onnxruntime session
    creation.  Returns a vectorized ``pd.Series -> pd.Series`` scorer; a real
    deployment replaces only this function (and flips the version string)."""
    b, w1, w2 = _WEIGHTS

    def score(distinct_ratio: pd.Series, n_tokens: pd.Series) -> pd.Series:
        import numpy as np

        z = b + w1 * distinct_ratio + w2 * np.log1p(n_tokens.astype("float64"))
        return 1.0 / (1.0 + np.exp(-z))

    return score


def score_documents(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Model-scored quality per document.  Feature extraction (normalize,
    tokenize) stays JVM-side so the Python boundary carries only the small
    numeric feature frame — at 100 TB shipping raw text through Arrow just
    to count tokens would dominate the stage, so the harness ships two
    numbers per row instead.  Scores are floor-rounded to ``ROUND_SCALE``
    decimals for engine-independent comparison."""
    from .dedup import normalized_text

    toks = F.split(normalized_text(F.col(text_col)), " ")
    feats = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "distinct_ratio"
        ),
    )

    mult = float(10**ROUND_SCALE)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _load_model()  # ONCE per task, then streams every batch
        for pdf in batches:
            import numpy as np

            s = model(pdf["distinct_ratio"], pdf["n_tokens"])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["n_tokens"],
                    "distinct_ratio": np.floor(pdf["distinct_ratio"] * mult + 0.5) / mult,
                    "score": np.floor(s * mult + 0.5) / mult,
                    "model_version": MODEL_VERSION,
                }
            )

    return feats.mapInPandas(run, SCORE_SCHEMA)


def oracle_score_sql() -> str:
    """The stub model in ANSI SQL (DuckDB twin) — possible only BECAUSE the
    stub is closed-form; a real checkpoint would make this query rows-only."""
    b, w1, w2 = _WEIGHTS
    mult = 10**ROUND_SCALE
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    return f"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split({norm}, ' ')) AS n_tokens,
             cast(len(list_distinct(string_split({norm}, ' '))) AS double)
               / len(string_split({norm}, ' ')) AS distinct_ratio
      FROM documents)
    SELECT doc_id, cast(n_tokens AS bigint) AS n_tokens,
           floor(distinct_ratio * {mult} + 0.5) / {mult} AS distinct_ratio,
           floor(1.0 / (1.0 + exp(-({b} + {w1} * distinct_ratio
                 + {w2} * ln(1 + n_tokens)))) * {mult} + 0.5) / {mult} AS score,
           '{MODEL_VERSION}' AS model_version
    FROM feats
    """
