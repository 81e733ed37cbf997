"""UDF/UDAF surface (SURVEY.md §2.11): the reference's user-extension points
re-expressed as Spark's.

F1 ``yourFunction(request, context)`` (python_template/src/handler.py:2-19):
arbitrary per-record user code → vectorized ``pandas_udf`` (Arrow batches;
10-100× over row-at-a-time Python).
F4 ``@cloud_function`` deploy decorator (interactive_helpers.py:62-124): the
engine analogue is ``spark.udf.register`` — the function becomes callable
from SQL.
F5 custom per-group reduction (report_generator.py:308-326 dispatch) →
grouped ``applyInPandas``.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def user_function_udf(fn: Callable[[pd.Series], pd.Series], returns=DoubleType()):
    """F1: wrap a per-record user function as a vectorized pandas UDF."""
    return F.pandas_udf(fn, returnType=returns)


def register_sql_function(
    spark: SparkSession, name: str, fn: Callable[[pd.Series], pd.Series]
) -> None:
    """F4: publish a user function into the SQL namespace
    (``SELECT name(col) FROM …``)."""
    spark.udf.register(name, user_function_udf(fn, DoubleType()))


def grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """F5: custom per-group reduction beyond avg/sum/list — grouped
    ``applyInPandas`` (one Arrow batch per group; keep groups bounded at
    scale, same caveat as collect_set)."""
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)
