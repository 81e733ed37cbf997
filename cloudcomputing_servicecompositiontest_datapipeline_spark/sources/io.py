"""IO layer: the reference's sources/sinks re-expressed (SURVEY.md §2.1).

| Ref | This module |
|-----|-------------|
| S1/S2 CSV scan (Transform.java:115-151, LoadData.java:37-75) | :func:`read_csv` |
| S4 CSV sink (Transform.java:153-183,328-338) | :func:`write_csv` |
| S6 JSON-record-per-file source (report_generator.py:446-455) | :func:`read_runs` |
| S7 JSON-record sink (report_generator.py:477-485) | :func:`write_runs` |
| S9 multi-section CSV report (report_generator.py:176-198,285-430) | :func:`write_report_csv` |
| S3/S8 S3 get / bulk pull | any reader over ``s3a://`` URIs — no copy step |

At 100 TB: CSV/JSON are ingest formats only — land them to parquet
partitioned on query keys (``DataFrameWriter.partitionBy``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Row bound of the driver-assembled single-file compat report.
COMPAT_MAX_ROWS = 100_000


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """S1/S2: header CSV scan.  The reference parses row-wise (Transform) and
    column-wise (LoadData); a DataFrame is both.  Schema given → no inference
    pass (one read at scale); omitted → inferSchema for ad-hoc use."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S4: header CSV sink (Transform_result.csv analogue)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def read_runs(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """S6: a folder of one-JSON-object-per-run files → records table with
    union-of-keys schema (missing keys → null, the Spark-idiomatic form of
    report_generator.py:78-87's sentinel fill)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_runs(df: DataFrame, path: str) -> None:
    """S7: JSON-record sink (run{i}.json folder analogue)."""
    df.write.mode("overwrite").json(path)


def write_report_csv(sections: dict[str, DataFrame], out_dir: str) -> dict[str, str]:
    """S9: the reference emits ONE multi-section CSV (raw rows + one section
    per group key, report_generator.py:285-430).  The scale-correct form is
    one CSV directory per section (a single driver-assembled text file cannot
    absorb a 100 TB raw section); section order and naming mirror the
    reference layout.  Returns {section: path}."""
    paths: dict[str, str] = {}
    for section, df in sections.items():
        p = os.path.join(out_dir, section)
        # stable column order like the reference's sorted-report layout (O2)
        write_csv(df.select(*sorted(df.columns)), p)
        paths[section] = p
    return paths


def write_report_csv_compat(
    sections: dict[str, DataFrame], path: str, *, max_rows: int = COMPAT_MAX_ROWS
) -> str:
    """S9 compat mode: ONE multi-section CSV text file in the reference's
    layout (exampleOutput.csv: raw rows first, then one block per group key,
    blank-line separated, columns sorted — report_generator.py:176-198,
    285-430, write_file:464-508).

    Driver-side assembly — explicitly bounded by ``max_rows`` because a single
    text file cannot absorb a 100 TB raw section; the scale path is
    :func:`write_report_csv` (one CSV directory per section)."""
    blocks: list[str] = []
    for section, df in sections.items():
        cols = sorted(df.columns)
        pdf = df.select(*cols).limit(max_rows + 1).toPandas()
        if len(pdf) > max_rows:
            raise ValueError(
                f"section {section!r} exceeds compat max_rows={max_rows}; "
                "use write_report_csv (per-section directories) at scale"
            )
        blocks.append(f"[{section}]\n" + pdf.to_csv(index=False).rstrip("\n"))
    text = "\n\n".join(blocks) + "\n"
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    return path


def render_report_compat(
    raw: DataFrame,
    sections: dict[str, DataFrame],
    *,
    timestamp: str,
    setup_line: str,
    list_runs_of_category: tuple[str, ...] = (),
    ignore_from_groups: tuple[str, ...] = (),
    ignore_by_group: dict[str, list[str]] | None = None,
) -> str:
    """S9 layout-compat mode: render the report as ONE text blob in the
    reference's EXACT section layout (`report_generator.py:170-198` header +
    raw block + ``Successful Runs:``; ``:283-384`` per-category blocks with
    the interleaved sorted-attribute header and ``Total number of unique
    Xs:`` scalar lines; ``:386-430`` the ``--- Runs of Group X ---``
    sub-blocks) — byte-for-byte against ``test/history/exampleOutput.csv``
    given the same input (pinned by tests/test_golden_layout.py).

    Driver-side assembly bounded by ``COMPAT_MAX_ROWS`` (same contract as
    :func:`write_report_csv_compat`): a single text artifact is a
    REPORTING surface, not a data interchange — the scale path stays
    :func:`write_report_csv`.

    Formatting contract (mirroring the reference's Python semantics):
    numeric aggregates print with 2 decimals (``str(round(Decimal, 2))``),
    sums of integral columns print as plain ints (``str(Decimal('0'))``),
    list cells are the repr of the sorted distinct values with commas
    CSV-escaped to semicolons (``str(list).replace(',', ';')``), and NULL
    raw cells print ``NONE``.  One divergence kept deliberately: rows
    within a category are ordered by the group key on BOTH sides here
    (the reference sorts sub-keys too, ``:333``)."""
    ignore_by_group = ignore_by_group or {}
    raw_rows = raw.limit(COMPAT_MAX_ROWS + 1).collect()
    if len(raw_rows) > COMPAT_MAX_ROWS:
        raise ValueError(
            f"raw section exceeds compat max_rows={COMPAT_MAX_ROWS}; "
            "use write_report_csv (per-section directories) at scale"
        )
    integral = {
        f.name
        for f in raw.schema.fields
        if f.dataType.typeName() in ("byte", "short", "integer", "long")
    }

    def cell(v) -> str:
        if v is None:
            return "NONE"
        if isinstance(v, list):
            return str([x for x in v]).replace(",", ";")
        return str(v)

    out: list[str] = [f"{timestamp} - Python Partest Version 0.5\n", setup_line + "\n"]
    raw_cols = sorted(raw.columns)
    out.append("\nRaw results of each run:\n")
    out.append(",".join(raw_cols) + "\n")
    for r in raw_rows:
        d = r.asDict()
        out.append(",".join(cell(d.get(c)) for c in raw_cols) + "\n")
    out.append(f"Successful Runs: {len(raw_rows)}\n")

    def base_attr(col: str) -> str:
        if col.startswith(("avg_", "sum_")):
            return col[4:]
        if col.endswith("_list"):
            return col[: -len("_list")]
        return col

    for key in sorted(k for k in sections if k != "raw" and not k.startswith("raw:")):
        sec = sections[key]
        rows = sec.limit(COMPAT_MAX_ROWS + 1).collect()
        if len(rows) > COMPAT_MAX_ROWS:
            raise ValueError(f"section {key!r} exceeds compat max_rows={COMPAT_MAX_ROWS}")
        # the reference interleaves avg_/sum_/X_list columns in sorted order
        # of the UNDERLYING attribute name (report_generator.py:297-326)
        value_cols = sorted(
            (c for c in sec.columns if c not in (key, "uses")), key=base_attr
        )
        out.append(f"\nCategory {key}:\n")
        out.append(",".join([key, "uses", *value_cols]) + "\n")
        for r in rows:
            d = r.asDict()
            line = [cell(d[key]), str(d["uses"])]
            for c in value_cols:
                v = d[c]
                if v is None:
                    line.append("NONE")
                elif isinstance(v, list):
                    line.append(cell(v))
                elif c.startswith("sum_") and base_attr(c) in integral:
                    line.append(str(int(v)))
                else:
                    line.append(f"{float(v):.2f}")
            out.append(",".join(line) + "\n")
        out.append(f"Total number of unique {key}s: {len(rows)}\n")

        if key in list_runs_of_category:
            out.append(f"\n--- Runs of Group {key} ---\n")
            dropped = set(ignore_from_groups) | set(ignore_by_group.get(key, []))
            sub_cols = [c for c in raw_cols if c not in dropped]
            for r in rows:
                v = r.asDict()[key]
                out.append(f"\nCategory {key} with {v}:\n")
                out.append(",".join(sub_cols) + "\n")
                for rr in raw_rows:
                    d = rr.asDict()
                    if d.get(key) == v:
                        out.append(",".join(cell(d.get(c)) for c in sub_cols) + "\n")
    return "".join(out)


def zorder_key(df: "DataFrame", cols: list[str], *, bits: int = 16) -> Column:
    """Morton (Z-order) key over numeric columns: each value is min/max
    scaled to ``bits`` bits, then the bits are interleaved, so rows close in
    the z-value are close in EVERY dimension — files sorted by it carry
    narrow parquet min/max footer ranges for all ``cols`` at once, where a
    plain range-sort clusters only its single key.  The per-column min/max
    is one tiny agg action (compaction is an offline maintenance pass); the
    key itself is pure JVM bit arithmetic, codegen-friendly.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).first()
    n = len(cols)
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None:  # all-NULL column: every row scales to bucket 0
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top).cast("long"),
            F.coalesce(
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top),
                F.lit(0),
            ).cast("long"),
        )
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z
