"""Public engine facade (SURVEY.md §3.3): the interactive surface a reference
user lands on — ``read_runs`` → ``report`` → ``write_report``, plus raw SQL.

Mirrors the reference's Jupyter flow (interactive_helpers.py:196-330: run
experiment → compile CSV → ``pd.read_csv``): here the "experiment results"
are any records table, the report is the ReportConfig-driven plan, and
``toPandas()`` is the final hop.  Everything else (dedup, similarity,
curation, features, streaming) is imported from ``operators/*`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.report import ReportConfig, report
from .session import apply_runtime_conf, get_spark
from .sources import io as sio


class Engine:
    """One-stop entry: ``Engine().read_runs(path)`` / ``.report(df, cfg)`` /
    ``.write_report(sections, out)`` / ``.sql(...)``."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = apply_runtime_conf(spark or get_spark())

    def read_runs(self, path: str, schema=None) -> DataFrame:
        """S6: folder of one-JSON-per-run files → records table."""
        return sio.read_runs(self.spark, path, schema)

    def report(self, runs: DataFrame, cfg: ReportConfig) -> dict[str, DataFrame]:
        """The FaaS-Runner report plan (raw + per-group sections)."""
        return report(runs, cfg)

    def write_report(self, sections: dict[str, DataFrame], out_dir: str) -> dict[str, str]:
        """S9: emit the report as one CSV directory per section."""
        return sio.write_report_csv(sections, out_dir)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)
