"""FaaS-Runner report engine re-expressed as DataFrame plans.

Reference: ``test/tools/report_generator.py`` — the reference's real analytics
engine.  Its fixed physical plan (report_generator.py:21-431): schema-unify →
invalidator/dedup filters → per-category group/agg (avg of every numeric
column, sum/list for configured columns, uses count) → sorted emit.  The
experiment config that drives it is ``defaultExperiment``
(test/faas_runner.py:34-64); we mirror the analytics-relevant keys in
:class:`ReportConfig`.

Scale posture: each per-category aggregation is a single hash-aggregate
(partial + final) on the group key; ``collect_set`` columns are capped via
config to avoid unbounded groups at 100 TB (SURVEY.md §4.2); all math stays
JVM-side (no Python UDFs).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..functions.exact import davg, dsum
from .transform import first_wins_dedup

#: The reference's missing-value sentinel (report_generator.py:86-87).
SENTINEL = -999999999999


@dataclass
class ReportConfig:
    """Analytics-relevant subset of the experiment config (faas_runner.py:34-64,
    semantics test/README.md:93-148)."""

    output_groups: list[str] = field(default_factory=list)  # group-by keys (A6)
    output_raw_of_group: list[str] = field(default_factory=list)  # per-group raw sections
    cpu_type_col: str = "cpuType"  # tenancy label source (report_generator.py:243)
    overlap_filter: str = ""  # J1 equality predicate (report_generator.py:101-106)
    start_col: str = "startTime"  # J1 interval bounds
    end_col: str = "endTime"
    run_id_col: str | None = None  # unique row id required to stamp runtimeOverlap
    pipeline_metrics: bool = True  # A8 cumulative XPipeline columns when staged
    show_as_list: list[str] = field(default_factory=list)  # A5 collect-distinct-sorted
    show_as_sum: list[str] = field(default_factory=list)  # A2 sum columns
    ignore_from_all: list[str] = field(default_factory=list)  # P14 drop everywhere
    ignore_from_groups: list[str] = field(default_factory=list)  # P14 drop in group sections
    ignore_by_group: dict[str, list[str]] = field(default_factory=dict)  # P14 per-key drops
    invalidators: dict[str, object] = field(default_factory=dict)  # P12 drop matching rows
    remove_duplicate_containers: bool = False  # D2 dedup by container id
    container_key: str = "uuid"
    warmup_buffer: int = 0  # P13 drop warm-up iterations
    iteration_col: str = "iteration"
    list_cap: int = 10_000  # scale guard for collect_set groups
    round_scale: int = 2  # P18 (report_generator.py:380)


def invalidator_filter(df: DataFrame, invalidators: dict[str, object]) -> DataFrame:
    """P12: drop rows where ``str(run[k]) == str(v)`` (report_generator.py:203-225).
    The reference compares stringified values; nulls never match (kept)."""
    for k, v in invalidators.items():
        if k in df.columns:
            pred = F.col(k).cast("string") == F.lit(str(v))
            df = df.filter(~F.coalesce(pred, F.lit(False)))
    return df


def warmup_filter(df: DataFrame, warmup: int, iteration_col: str = "iteration") -> DataFrame:
    """P13: drop iterations below the warm-up buffer
    (experiment_orchestrator.py:225-231)."""
    if warmup <= 0 or iteration_col not in df.columns:
        return df
    return df.filter(F.col(iteration_col) >= F.lit(warmup))


def schema_unify(frames: list[DataFrame], use_sentinel: bool = False) -> DataFrame:
    """P17/U1/U2: union-of-keys schema across record batches
    (report_generator.py:78-87).  Default is Spark-idiomatic nulls; the
    reference's ``-999999999999`` sentinel is a compat opt-in (SURVEY.md §7.3)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if use_sentinel:
        num_cols = [
            c.name for c in out.schema.fields if isinstance(c.dataType, NumericType)
        ]
        out = out.fillna(SENTINEL, subset=num_cols)
    return out


def numeric_columns(df: DataFrame, exclude: set[str] = frozenset()) -> list[str]:
    """The reference treats "numeric" as Decimal-parseable-at-runtime
    (report_generator.py:312-326); we decide from schema (SURVEY.md §7.3)."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType) and f.name not in exclude
    ]


def group_section(df: DataFrame, key: str, cfg: ReportConfig) -> DataFrame:
    """One per-category section (report_generator.py:261-384): group by ``key``,
    emit ``uses`` count (A3), ``avg_X`` for every numeric column (A1),
    ``sum_X`` for showAsSum (A2), ``X_list`` sorted-distinct for showAsList
    (A5), ordered by the group key (O1).

    Column semantics are reference-exact (r8): the group key is NOT
    auto-dropped from aggregates — the reference only drops explicit ignore
    entries, so its own golden artifact carries ``sum_newcontainer`` inside
    the newcontainer section and ``vmuptime_list`` inside the vmuptime
    section — and a showAsSum/showAsList column gets its sum/list INSTEAD
    of an avg (report_generator.py:297-326 emits exactly one header cell
    per attribute)."""
    dropped = set(
        cfg.ignore_from_all + cfg.ignore_from_groups + cfg.ignore_by_group.get(key, [])
    )
    # df[c] (not F.col) so names containing brackets — zTenancy[vmID],
    # tenants[vmID] — resolve as plain columns, not extraction expressions
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("uses")]
    replaced = set(cfg.show_as_sum) | set(cfg.show_as_list)
    for c in numeric_columns(df, exclude=dropped | replaced):
        aggs.append(davg(df[c], f"avg_{c}", cfg.round_scale))
    for c in cfg.show_as_sum:
        if c in df.columns and c not in dropped:
            aggs.append(dsum(df[c], f"sum_{c}", cfg.round_scale))
    for c in cfg.show_as_list:
        if c in df.columns and c not in dropped:
            # NOTE the slice caps the OUTPUT, not the collect_set buffer:
            # per-group state is still every distinct value of c — fine for
            # the reference's showAsList columns (bounded monitoring dims:
            # vmIDs, cpuTypes), but a high-cardinality column should go
            # through capped_distinct_list, the buffer-bounded form.
            aggs.append(
                F.slice(F.sort_array(F.collect_set(df[c])), 1, cfg.list_cap).alias(
                    f"{c}_list"
                )
            )
    return df.groupBy(df[key]).agg(*aggs).orderBy(df[key])


def capped_distinct_list(
    df: DataFrame, key_col: str, value_col: str, cap: int
) -> DataFrame:
    """Buffer-bounded showAsList (A5/D3 at 100 TB): the same sorted-distinct
    cap-``cap`` list as ``slice(sort_array(collect_set(c)), 1, cap)`` but
    with aggregation STATE bounded by the cap, not by the group's distinct
    count — ``collect_set`` accumulates every distinct value in one
    aggregation buffer before any slice runs, the same
    buffer-∝-distinct-values class as the exact-Percentile hazard, just
    per group.

    Shape: distinct (one spillable partial-agg shuffle, state = 1 row per
    (key, value)), then ``row_number() <= cap`` — compiles to
    WindowGroupLimit, so map tasks prune to the cap per key BEFORE the
    window exchange — then ``collect_list`` over at most ``cap`` elements.
    One extra shuffle vs the single-pass form; the single-pass form stays
    the default in :func:`group_section` (reference-faithful, cheaper at
    sane cardinalities).

    NULL values are excluded like ``collect_set`` does; a group with ONLY
    NULLs disappears entirely (the single-pass form keeps it with an empty
    list) — callers needing those groups re-join against the key table.
    Output: (key, ``{value}_list`` comma-joined sorted string, n_listed =
    min(distinct, cap))."""
    distinct = (
        df.select(key_col, value_col)
        .where(F.col(value_col).isNotNull())
        .distinct()
    )
    w = Window.partitionBy(key_col).orderBy(F.col(value_col).asc())
    capped = distinct.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= cap
    )
    return capped.groupBy(key_col).agg(
        F.array_join(F.sort_array(F.collect_list(value_col)), ",").alias(
            f"{value_col}_list"
        ),
        F.count(F.lit(1)).cast("long").alias("n_listed"),
    )


def add_tenancy_columns(
    df: DataFrame, vm_col: str, cpu_col: str = "cpuType"
) -> DataFrame:
    """zTenancy semantics (report_generator.py:230-255): per-vm uses count and
    the vm's cpuType (first occurrence), stamped onto every run as
    ``zTenancy[vm] = "<cpuType> - <uses>"`` plus ``tenants[vm] = uses``.

    The vm's "first" cpuType is ``min(cpuType)`` (the reference uses ingest
    order) — identical when a vm has one cpuType, which the data model
    guarantees."""
    w = Window.partitionBy(vm_col)
    uses = F.count(F.lit(1)).over(w)
    cpu = F.min(cpu_col).over(w)
    return df.withColumn(
        f"zTenancy[{vm_col}]", F.concat(cpu.cast("string"), F.lit(" - "), uses.cast("string"))
    ).withColumn(f"tenants[{vm_col}]", uses)


def add_pipeline_metrics(
    df: DataFrame,
    metrics: list[str],
) -> DataFrame:
    """A8/W1: cumulative ``X + "Pipeline"`` columns — running sum of X over
    pipeline stages within (run, thread) (report_generator.py:143-164)."""
    w = (
        Window.partitionBy("1_run_id", "2_thread_id")
        .orderBy("3_pipeline_stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for m in metrics:
        if m in df.columns:
            df = df.withColumn(
                f"{m}Pipeline",
                F.round(F.sum(F.col(m).cast("decimal(28,4)")).over(w), 2).cast("double"),
            )
    return df


def combine_sheets(frames: list[DataFrame], vm_col: str = "vmID") -> DataFrame:
    """U1: union run batches across iterations, tagging each with its
    iteration and deriving the iteration-scoped vm key ``vmID[iteration]``
    (experiment_orchestrator.py:222-237) — the key the tenancy pass must use
    when iterations > 1 (SURVEY.md §7.3 zTenancy caveat)."""
    tagged = []
    for i, f in enumerate(frames):
        t = f.withColumn("iteration", F.lit(i))
        if vm_col in f.columns:
            t = t.withColumn(
                f"{vm_col}_iter", F.concat(F.col(vm_col), F.lit(f"[{i}]"))
            )
        tagged.append(t)
    return schema_unify(tagged)


def resolve_group_conflicts(df: DataFrame, groups: list[str]) -> list[str]:
    """U5: category-key conflict resolution (report_generator.py:62-71) —
    drop the ``vmuptime`` group when ``vmID`` exists and ``uuid`` when
    ``containerID`` exists (the finer key supersedes the coarser proxy)."""
    out = list(groups)
    if "vmID" in df.columns and "vmuptime" in out:
        out.remove("vmuptime")
    if "containerID" in df.columns and "uuid" in out:
        out.remove("uuid")
    return out


def validity_gate(df: DataFrame, version_col: str = "version") -> DataFrame:
    """P11: a record is a valid run only if the version field is present
    (experiment_caller.py:101-102; test/README.md:12)."""
    if version_col not in df.columns:
        return df
    return df.filter(F.col(version_col).isNotNull())


def report(df: DataFrame, cfg: ReportConfig) -> dict[str, DataFrame]:
    """The full report plan: validity gate → filters → dedup → tenancy
    derivation (for ``zTenancy[...]`` group keys) → one section per output
    group (after U5 conflict resolution), plus the raw (filtered) records
    under ``"raw"`` and per-group raw splits under ``"raw:<key>"``
    (outputRawOfGroup, report_generator.py:385-430)."""
    df = validity_gate(df)
    df = warmup_filter(df, cfg.warmup_buffer, cfg.iteration_col)
    df = invalidator_filter(df, cfg.invalidators)
    if cfg.remove_duplicate_containers and cfg.container_key in df.columns:
        order = [F.col(c) for c in df.columns]
        df = first_wins_dedup(df, cfg.container_key, order)
    # runtimeOverlap stamped automatically when interval bounds exist
    # (report_generator.py:91-111); needs a unique row id to annotate back.
    if (
        cfg.run_id_col
        and cfg.start_col in df.columns
        and cfg.end_col in df.columns
        and "runtimeOverlap" not in df.columns
    ):
        from .joins import runtime_overlap

        # a report sheet is a bounded run set (the reference loops over it
        # in Python); without an overlapFilter key the all-pairs form needs
        # the explicit demo bound — size it to the sheet cap, not the lake
        scores = runtime_overlap(
            df,
            id_col=cfg.run_id_col,
            start_col=cfg.start_col,
            end_col=cfg.end_col,
            overlap_filter=cfg.overlap_filter or None,
            demo_max_rows=None if cfg.overlap_filter else 100_000,
        ).withColumnRenamed("overlap_score", "runtimeOverlap")
        df = df.join(scores, cfg.run_id_col, "left").withColumn(
            "runtimeOverlap", F.round(F.col("runtimeOverlap"), 2)
        )
    # cumulative pipeline metrics when the records are staged
    # (report_generator.py:113-164)
    if cfg.pipeline_metrics and "3_pipeline_stage" in df.columns:
        skip = {"1_run_id", "2_thread_id", "3_pipeline_stage"}
        df = add_pipeline_metrics(df, numeric_columns(df, exclude=skip))
    # zTenancy[vm] group keys require the derived tenancy columns
    # (report_generator.py:230-255); zTenancy[vmID] is dropped when the
    # iteration-scoped key is also requested (the §7.3 correctness caveat).
    groups = list(cfg.output_groups)
    if "zTenancy[vmID[iteration]]" in groups and "zTenancy[vmID]" in groups:
        if "vmID_iter" in df.columns or "vmID[iteration]" in df.columns:
            groups.remove("zTenancy[vmID]")
    for g in groups:
        if g.startswith("zTenancy[") and g.endswith("]"):
            vm = g[len("zTenancy[") : -1]
            vm_col = "vmID_iter" if vm == "vmID[iteration]" and "vmID_iter" in df.columns else vm
            if vm_col in df.columns and cfg.cpu_type_col in df.columns and g not in df.columns:
                df = add_tenancy_columns(df, vm_col, cfg.cpu_type_col)
                if vm_col != vm:
                    df = df.withColumnRenamed(f"zTenancy[{vm_col}]", g).withColumnRenamed(
                        f"tenants[{vm_col}]", f"tenants[{vm}]"
                    )
    sections: dict[str, DataFrame] = {"raw": df}
    for key in resolve_group_conflicts(df, groups):
        if key in df.columns:
            sections[key] = group_section(df, key, cfg)
    for key in cfg.output_raw_of_group:
        if key in df.columns:
            dropped = set(cfg.ignore_from_groups) | set(cfg.ignore_by_group.get(key, []))
            keep = [c for c in df.columns if c not in dropped]
            sections[f"raw:{key}"] = df.select(*keep)
    return sections
