#!/usr/bin/env python
"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].  Prints ONE compact JSON line (fits the
driver's 2000-byte stdout-tail capture):
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}
and writes the FULL record (extra/new tables, secondary SF, vs_prev deltas)
to the committed sidecar BENCH_DETAIL.json.

Each query executes fully (noop sink — no driver collect cost) after a
warm-up pass of the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: Secondary (smaller) SF for scaling curvature: near-linear per-query
#: sf-ratio is the evidence that plans scale in data size, not in overhead.
SF2_DIR = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")

#: Headline queries: one per subsystem (TLQ, report, joins, windows, native
#: star-schema, dedup, similarity, streaming-window).
HEADLINE = [
    "tlq_transform",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "report_full",
    "report_multi_group",
    "overlap_selfjoin",
    "pipeline_cumulative",
    "window_rank_topk",
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
    "text_quality_score",
    "events_tumbling_window",
    "events_session_window",
]

#: Added in r3 (X24-X26) — a third table so the r2 EXTRA set stays a stable
#: comparison base; these graduate to vs_prev deltas from r4 on.
NEW_R3 = [
    "dedup_bloom_ingest",
    "dedup_semantic_centroids",
    "split_leakage_safe",
    "curation_source_cap",
    "text_topngram_coverage",
    "inference_model_scores",
    "embedding_quantize_int8",
    "similarity_quantized_recall",
    "layout_zorder_key",
    "curation_temperature_resample",
    "curation_token_budget",
    "text_quality_funnel_report",
    "text_bpe_pair_counts",
    "drift_events_value",
]

#: Added in r4 (X43-X50 + the scale-path/parity queries) — fourth table,
#: vs_prev-tracked from r5 on via BENCH_DETAIL.json.
NEW_R4 = [
    "text_winnow_fingerprints",
    "dedup_winnow_candidates",
    "dedup_winnow_verified",
    "dedup_winnow_clusters",
    "text_bm25_topk",
    "text_bpe_encode_parity",
    "text_perplexity_scores",
    "embedding_normalize_zscore",
    "events_decayed_activity",
    "events_mad_by_type",
    "events_cohort_retention",
    "events_outliers_robust",
    "curation_quality_deciles",
    "sample_per_group_reservoir",
    "curation_target_mix",
    "pack_sequences_sharded",
    "events_funnel_conversion",
    "search_hybrid_rrf",
    "text_hard_negatives",
]

#: Added in r5 (X58-X63) — fifth table, vs_prev-tracked from r6 on.
NEW_R5 = [
    "curation_importance_weights",
    "split_stratified",
    "curation_quality_quantile_norm",
    "text_token_stats_by_source",
    "dedup_cluster_size_histogram",
    "events_burst_zscore",
    "dedup_dup_rate_by_source",
    "embedding_qc",
    "events_bootstrap_ci",
    "text_strip_html",
    "pack_efficiency_report",
    "streaming_burst_monitor",
    "curation_quantile_map",
    "curation_temporal_split",
    "dedup_fuzzy_suppliers",
    "report_regression_mape",
    "sample_weighted_per_group",
    "text_vocabulary_overlap",
    "events_transition_matrix",
    "events_survival_curve",
    "events_ab_test",
    "events_cusum_shifts",
    "dedup_winnow_containment",
    "curation_concentration",
    "events_rolling_rate",
    "text_novelty_scores",
]

#: Added in r7 (X84-X89 + the ANN sweep / bounded-list aggregate) — sixth
#: table, vs_prev-tracked from r8 on.
NEW_R7 = [
    "similarity_ann_sweep",
    "report_show_as_list_bounded",
    "text_dup_line_fraction",
    "split_kfold",
    "dedup_span_coverage",
    "text_remove_boilerplate",
    "curation_batch_by_length",
    "pack_documents_nostraddle",
]

#: Added/mode-changed in r8 (X90 + the portable-mode oracle upgrades whose
#: declared plans changed: md5_32 hyperplanes, seed-vector quantizers, seed
#: PQ codebooks, md5-LSH eval) — seventh table, vs_prev-tracked from r9 on.
NEW_R8 = [
    "text_chunk_content_defined",
    "similarity_ann_eval",
    "similarity_pq_eval",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_pq_encode",
    "similarity_jl_projection",
    "similarity_jl_eval",
    "dedup_lsh_eval",
]

#: CPU-scaling probes (r11): the driver re-runs the bench at a LOWER core
#: count and compares per-query times from the stdout ``queries`` map — but
#: the frozen 15-query headline is latency-bound at sf0.1 (17 MB fixture),
#: so every ratio read ~1 and the driver's r10 record flagged
#: ``suspect_cpus_ignored`` even though ``$SPARK_GRAFT_CPUS`` is honored
#: (session.py:100; the driver's own c8 stage traces show 8-task waves).
#: After the r11 CPU cuts every regular query's sf0.1 wall is latency-bound
#: (quiet back-to-back c8/c32 min-of-3 ratios read 0.8-1.1 across the
#: board), so the registry gained a dedicated oracle-checked probe that
#: amplifies the embeddings 10x IN-PLAN and runs the brute-force decimal
#: fold workload — genuinely compute-bound (measured 1.94 s @32 vs 3.59 s
#: @8, ratio 1.86, both runs sentinel-quiet).  Probes are timed with the
#: headline methodology and ADDED to the stdout ``queries`` map (the
#: contract allows additions, never removals); ``value`` stays the sum of
#: the frozen 15-query HEADLINE so round-over-round totals remain 1:1
#: comparable — stated explicitly in OPTIMIZATION_r11.md as a
#: measurement-visibility fix, not a timing change.
SCALING_PROBES = [
    "similarity_bruteforce_scale_probe",  # 10x in-plan sample, ~40M decimal fold terms; 1.86x c8/c32
    "similarity_ann_sweep",       # 1.33x in the driver's own r10 c8 record; post-r11 CPU cut ~1.0-1.1 locally
    "events_bootstrap_ci",        # 50x8 md5/conv draw replicates; 1.1-1.3x depending on epoch
]

#: Tier-2 headline (r8+): the 10 most expensive LONG-TAIL queries by the r7
#: BENCH_DETAIL ranking, promoted into the committed per-round record so a
#: regression in the r3–r7 operator families moves a tracked number (the r7
#: verdict's bench-blind-spot item).  Names stay FROZEN like the r1 headline
#: — the point is round-over-round comparability, not covering whatever is
#: expensive this round (BENCH_DETAIL still records everything).  These are
#: timed inside their NEW_R* groups; tier2 just re-reports them on stdout.
TIER2 = [
    "similarity_ann_sweep",
    "dedup_semantic_centroids",
    "dedup_winnow_clusters",
    "split_leakage_safe",
    "dedup_bloom_ingest",
    "search_hybrid_rrf",
    "text_perplexity_scores",
    "dedup_winnow_containment",
    "curation_quantile_map",
    "streaming_burst_monitor",
]

#: Added after r1 — timed outside the headline total for bench continuity.
EXTRA = [
    "overlap_global_binned",
    "cdc_snapshot_diff",
    "quality_constraint_report",
    "incremental_agg_merge",
    "sketch_distinct_rollup",
    "dedup_passages",
    "dedup_against_corpus",
    "profile_documents",
    "sketch_frequency_heavy_hitters",
    "events_time_rollup",
    "sketch_quantile_rollup",
]

#: The timed group tables, keyed by their BENCH_DETAIL.json field; each
#: group's vs_prev delta field swaps ``_queries`` for ``_delta_sec``, and
#: its budget-log tag is the key stem.
GROUPS = {
    "extra_queries": EXTRA,
    "new_queries": NEW_R3,
    "new_r4_queries": NEW_R4,
    "new_r5_queries": NEW_R5,
    "new_r7_queries": NEW_R7,
    "new_r8_queries": NEW_R8,
}


class _Budget:
    """Wall-clock budget so the bench ALWAYS emits its JSON line inside the
    driver's timeout (r8 regression: the gate record was rc=124/parsed-null
    because one pathological query blew the whole-run budget).  Headline is
    timed in full first; grouped tables degrade min-of-2 -> min-of-1 -> skip
    as the budget drains, and every skip/degradation is logged in the output
    record — no silent caps."""

    def __init__(self, total_s: float) -> None:
        self.t0 = time.time()
        self.total = total_s
        self.skipped: list[str] = []
        self.degraded: list[str] = []

    def elapsed(self) -> float:
        return time.time() - self.t0

    def remaining(self) -> float:
        return self.total - self.elapsed()


#: hard per-EXECUTION cap: a single runaway query gets its Spark jobs
#: cancelled rather than blowing the whole-gate budget (the r8 rc=124 class
#: — the budget floor alone admits a query at remaining()=61 s that then
#: runs for 10 minutes)
QUERY_CAP_S = float(os.environ.get("SG_BENCH_QUERY_CAP_S", "150"))


def _capped_exec(spark, fn, tag: str, budget: _Budget) -> bool:
    """Run one query execution under a job-group that a timer cancels after
    min(QUERY_CAP_S, remaining budget).  Returns False (and logs
    ``aborted:tag:ExcClass``) if the execution was cancelled or failed —
    the exception class is recorded so a genuinely broken query (analysis
    error, missing table) is distinguishable from a budget cancel in the
    record (r9 ADVICE).  The 30 s floor keeps a near-budget query from
    being cancelled mid-flight, but once the budget is EXHAUSTED the floor
    drops to 5 s — overruns past the budget must stay bounded."""
    import threading

    floor = 30.0 if budget.remaining() > 0 else 5.0
    cap = max(floor, min(QUERY_CAP_S, budget.remaining()))
    sc = spark.sparkContext
    group = f"bench:{tag}"
    sc.setJobGroup(group, tag, interruptOnCancel=True)
    timer = threading.Timer(cap, lambda: sc.cancelJobGroup(group))
    timer.daemon = True
    timer.start()
    try:
        fn()
        return True
    except Exception as e:
        budget.skipped.append(f"aborted:{tag}:{type(e).__name__}")
        return False
    finally:
        timer.cancel()


def main() -> None:
    from cloudcomputing_servicecompositiontest_datapipeline_spark.session import get_spark
    import __spark_entry__ as em

    budget = _Budget(float(os.environ.get("SG_BENCH_BUDGET_S", "900")))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()

    def _noop(name: str, sf: str):
        """One execution of ``name``, its jobs described as ``q:<name>``."""

        def run() -> None:
            spark.sparkContext.setJobDescription(f"q:{name}")
            try:
                qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            finally:
                spark.sparkContext.setJobDescription(None)

        return run

    # Warm-up: run every headline plan once at the smallest SF — this
    # Janino-compiles the generated code and JIT-warms the hot loops, so the
    # timed pass measures steady-state execution, not first-run compilation.
    # Budget-guarded: warm-ups stop once they have consumed 30% of the budget
    # (cold first-timed-runs are noise; a missing gate record is a failure).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != SF_DIR:
        for name in HEADLINE + [n for names in GROUPS.values() for n in names if n in qs]:
            if budget.remaining() < budget.total * 0.7:
                budget.skipped.append(f"warmup:{name}")
                continue
            _noop(name, warm_dir)()
    else:
        _noop("report_group_avg", SF_DIR)()

    # Prime the OS page cache for the timed SF's parquet (first touch after
    # a VM boot otherwise lands in the first timed run): one cheap full scan
    # per table file, driver-side file read — no Spark job.
    try:
        for root, _dirs, files in os.walk(SF_DIR):
            for fn in files:
                if fn.endswith(".parquet"):
                    with open(os.path.join(root, fn), "rb") as f:
                        while f.read(1 << 24):
                            pass
    except OSError:
        pass

    # Ambient-load sentinel (r9 verdict #1): a fixed data-independent probe
    # timed at start / mid / end of the run, emitted in the record, so a
    # reader can distinguish "host was busy" from "we regressed" — the probe
    # runs serially with the queries, so its own inflation is external
    # contention by construction.
    from tools.sentinel import prime_sentinel, run_sentinel, summarize

    prime_sentinel(spark)
    sentinels: dict[str, dict] = {"start": run_sentinel(spark)}

    # One UNTIMED pass at the timed SF first (the sf0.001 warm-up compiles
    # the codegen but C2/JIT steady state needs executions at the real data
    # shape — observed: the same query keeps dropping for ~4-8 runs), then
    # min of three timed executions: robust to a GC pause, compilation
    # straggler, or a hypervisor-steal burst landing in one run (observed:
    # single-run noise up to 5x on virtualized hosts).
    #
    # Headline: 1 untimed + min-of-3 timed, but budget-guarded like every
    # other phase (r9 ADVICE: three ~100 s headline queries stay under the
    # per-exec cap yet blow the whole-run budget) — below 40% remaining the
    # phase degrades to min-of-1, below a 60 s floor it skips, and any
    # missing member is flagged so headline_total can't silently shrink
    # into a fake speedup.
    timings: dict[str, float] = {}
    first_exec: dict[str, float] = {}
    for name in HEADLINE + [n for n in SCALING_PROBES if n in qs]:
        if budget.remaining() < 60:
            budget.skipped.append(f"headline:{name}")
            continue
        reps = 3
        if budget.remaining() < budget.total * 0.40:
            reps = 1
            budget.degraded.append(f"headline:{name}")
        if not _capped_exec(spark, _noop(name, SF_DIR), f"headline:{name}", budget):
            continue
        best = float("inf")
        for i in range(reps):
            t0 = time.time()
            if not _capped_exec(spark, _noop(name, SF_DIR), f"headline:{name}", budget):
                break
            dt = time.time() - t0
            if i == 0:
                # kept for the end-of-run drift diagnostic: the retime is a
                # SINGLE execution, so it must compare against a single
                # execution (min-of-3 vs single-shot reads ~1.3x drift on a
                # perfectly quiet host from GC variance alone)
                first_exec[name] = round(dt, 3)
            best = min(best, dt)
        if best < float("inf"):
            timings[name] = round(best, 3)

    def _time_group(names: list[str], group: str) -> dict[str, float]:
        """Best-effort min-of-2 per query, degrading to min-of-1 below 45%
        budget and skipping (logged) below a 60 s floor."""
        res: dict[str, float] = {}
        for name in names:
            if name not in qs:
                continue
            if budget.remaining() < 60:
                budget.skipped.append(f"{group}:{name}")
                continue
            reps = 2
            if budget.remaining() < budget.total * 0.45:
                reps = 1
                budget.degraded.append(f"{group}:{name}")
            best = float("inf")
            for _ in range(reps):
                t0 = time.time()
                if not _capped_exec(spark, _noop(name, SF_DIR), f"{group}:{name}", budget):
                    break
                best = min(best, time.time() - t0)
            if best < float("inf"):
                res[name] = round(best, 3)
        return res

    # r2+ operators: a STABLE secondary table (same 11 queries since r2)
    # timed separately so "value" stays 1:1 comparable with r1's 15-query
    # headline total.  Tier-2 members are timed before the rest of their
    # group so the committed tier2 slice survives a tight budget.
    def _tier2_first(names: list[str]) -> list[str]:
        return [n for n in names if n in TIER2] + [n for n in names if n not in TIER2]

    groups = {
        key: _time_group(_tier2_first(names), key.removesuffix("_queries"))
        for key, names in GROUPS.items()
    }
    all_groups = {n: t for g in groups.values() for n, t in g.items()}

    sentinels["mid"] = run_sentinel(spark)

    # Second scale factor: the same headline queries at SF2 (10x less data),
    # min-of-2.  sf_scaling_ratio = t(SF)/t(SF2) per query — for a 10x SF
    # step, a ratio well under 10 means fixed overhead still dominates at
    # SF2, and a ratio near 10+ flags a super-linear plan.
    def _sf(d: str):
        s = d.rstrip("/").rsplit("sf", 1)[-1]
        return float(s) if s.replace(".", "").isdigit() else s

    secondary: dict[str, float] = {}
    secondary_new: dict[str, float] = {}
    if os.path.isdir(SF2_DIR) and SF2_DIR != SF_DIR:
        for name in HEADLINE:
            if budget.remaining() < 60:
                budget.skipped.append(f"sf2:{name}")
                continue
            reps = 2
            if budget.remaining() <= budget.total * 0.25:
                reps = 1
                budget.degraded.append(f"sf2:{name}")
            best = float("inf")
            for _ in range(reps):
                t0 = time.time()
                if not _capped_exec(spark, _noop(name, SF2_DIR), f"sf2:{name}", budget):
                    break
                best = min(best, time.time() - t0)
            if best < float("inf"):
                secondary[name] = round(best, 3)
        # scaling curvature for this round's additions too (min-of-1 by
        # design — the ratio needs one comparable point, not a gate number)
        for name in NEW_R4 + NEW_R5 + NEW_R7 + NEW_R8:
            if name in qs:
                if budget.remaining() < 45:
                    budget.skipped.append(f"sf2:{name}")
                    continue
                t0 = time.time()
                if _capped_exec(spark, _noop(name, SF2_DIR), f"sf2:{name}", budget):
                    secondary_new[name] = round(time.time() - t0, 3)

    # End-of-run headline RE-TIME (r9 verdict #1): one more execution of
    # each headline query, recorded as first-vs-last drift.  Co-load early
    # in a run shows up as retimes systematically FASTER than the headline
    # pass (the r9 official-record signature); co-load late shows the
    # opposite.  min-of-1 by design — this is a diagnostic, not the gate
    # number — and budget-guarded so it can never cost the record itself.
    from tools.sentinel import settle

    settle(spark)
    retime: dict[str, float] = {}
    retime_skipped = False
    for name in timings:
        if budget.remaining() < 45:
            budget.skipped.append(f"retime:{name}")
            retime_skipped = True
            continue
        t0 = time.time()
        if _capped_exec(spark, _noop(name, SF_DIR), f"retime:{name}", budget):
            retime[name] = round(time.time() - t0, 3)

    sentinels["end"] = run_sentinel(spark)
    noise = summarize(sentinels)

    # value = the FROZEN 15-query headline sum (r1-comparable): the scaling
    # probes ride in the queries map for the driver's low-core ratio
    # measurement but must not inflate the round-over-round total.
    headline_total = round(sum(t for n, t in timings.items() if n in HEADLINE), 3)
    out = {
        "metric": "headline_total",
        "value": headline_total,
        "unit": "sec",
        "queries": timings,
        "scaling_probes": [n for n in SCALING_PROBES if n in timings],
        **groups,
        "sf": _sf(SF_DIR),
    }
    if secondary:
        out["secondary_sf"] = {
            "sf": _sf(SF2_DIR),
            "total": round(sum(secondary.values()), 3),
            "queries": secondary,
            "sf_scaling_ratio": {
                n: round(timings[n] / secondary[n], 2)
                if secondary[n] > 0 and n in timings
                else None
                for n in secondary
            },
            # covers the merged r4+r5+r7+r8 additions (renamed from the
            # misleading new_r4_* keys, per the r8 ADVICE)
            "added_queries": secondary_new,
            "added_queries_scaling_ratio": {
                n: round(all_groups[n] / secondary_new[n], 2)
                if secondary_new[n] > 0 and n in all_groups
                else None
                for n in secondary_new
            },
        }
    out["noise_sentinel"] = noise
    out["headline_retime"] = {
        "queries": retime,
        # HEADLINE members only, so the quiet-run invariant
        # (retime_total ~= value) survives the r11 scaling probes riding in
        # the retimed set; the probes' retimes stay in `queries` above
        "retime_total": round(
            sum(t for n, t in retime.items() if n in HEADLINE), 3
        ),
        "first_exec": first_exec,
        # retime/first-exec per query (single-shot vs single-shot — the
        # min-of-3 gate number would fake ~1.3x upward drift): <1 means the
        # headline pass ran inflated (early co-load, the r9 signature),
        # >1 means late co-load
        "drift_vs_first": {
            n: round(t / first_exec[n], 2)
            for n, t in retime.items()
            if first_exec.get(n)
        },
    }
    if retime_skipped:
        out["headline_retime"]["incomplete"] = True
    headline_missing = [n for n in HEADLINE if n not in timings]
    if headline_missing:
        out["headline_missing"] = headline_missing
    out["budget"] = {
        "budget_s": budget.total,
        "elapsed_s": round(budget.elapsed(), 1),
        "skipped": budget.skipped,
        "degraded_min_of_1": budget.degraded,
    }
    # Bench continuity: per-query delta vs the previous round's FULL record.
    # Preferred source is our own sidecar BENCH_DETAIL.json (always complete);
    # fall back to the newest PARSEABLE driver BENCH_r{N}.json (r3's was
    # tail-truncated -> parsed: null; skip such files rather than crash).
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    prior = sorted(f for f in os.listdir(here) if f.startswith("BENCH_r") and f.endswith(".json"))
    candidates = [detail_path] + [os.path.join(here, f) for f in reversed(prior)]
    for path in candidates:
        try:
            with open(path) as f:
                prev = json.load(f)
            prev = prev.get("parsed") or prev  # driver files wrap under "parsed"
            if not isinstance(prev, dict) or "queries" not in prev:
                continue
            pq = prev.get("queries", {})
            out["vs_prev"] = {
                "round": os.path.basename(path),
                "total_delta_sec": round(out["value"] - prev.get("value", 0.0), 3),
                "queries_delta_sec": {
                    n: round(t - pq[n], 3) for n, t in timings.items() if n in pq
                },
            }
            for key, timed in groups.items():
                pg = prev.get(key, {})
                out["vs_prev"][key.replace("_queries", "_delta_sec")] = {
                    n: round(t - pg[n], 3) for n, t in timed.items() if n in pg
                }
            break
        except (OSError, ValueError):
            continue
    # Tier-2: re-report the frozen expensive-long-tail slice from the group
    # timings already collected above (no extra executions).
    tier2 = {n: all_groups[n] for n in TIER2 if n in all_groups}
    out["tier2_queries"] = tier2
    out["tier2_total"] = round(sum(tier2.values()), 3)
    # a budget-skipped tier2 member would silently SHRINK tier2_total and
    # read as a speedup next round — mark the gate slice incomplete instead
    tier2_missing = [n for n in TIER2 if n not in tier2]
    if tier2_missing:
        out["tier2_missing"] = tier2_missing
    # Window-rotation ledger (r10 verdict #9): one compact field so a judge
    # can verify rotation hygiene — which 50-name window this round surfaced
    # (names_hash = sha256 of the comma-joined DRIVER_WINDOW) and that no
    # query failing in the latest committed driver CORRECTNESS record was
    # rotated OUT of it.
    def _window_ledger() -> dict:
        import hashlib

        from cloudcomputing_servicecompositiontest_datapipeline_spark.plans.registry import (
            DRIVER_WINDOW,
        )

        rec_files = sorted(f for f in os.listdir(here) if f.startswith("CORRECTNESS_r") and f.endswith(".json"))
        rotated_out_failing = 0
        latest = rec_files[-1] if rec_files else None
        if latest:
            try:
                with open(os.path.join(here, latest)) as f:
                    rec = json.load(f)
                for name, row in rec.items():
                    failed = isinstance(row, dict) and not (
                        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
                    ) and row.get("err") != "no_oracle"
                    if failed and name not in DRIVER_WINDOW:
                        rotated_out_failing += 1
            except (OSError, ValueError):
                rotated_out_failing = -1  # unreadable record — flag, don't guess
        return {
            "n": len(DRIVER_WINDOW),
            "names_hash": hashlib.sha256(",".join(DRIVER_WINDOW).encode()).hexdigest()[:12],
            "prev_record": latest,
            "rotated_out_failing": rotated_out_failing,
        }

    try:
        out["window"] = _window_ledger()
    except Exception:
        pass  # the ledger is evidence, never a reason to lose the record

    # The driver's stdout-tail capture is 2000 bytes and json-parses what it
    # caught: the r3 full record outgrew it (parsed: null).  So the FULL
    # record goes to the committed sidecar BENCH_DETAIL.json, and stdout
    # stays ONE compact self-contained line (metric/value/unit/queries/sf —
    # the whole contract) that always fits the tail.
    try:
        with open(detail_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass
    compact = {
        "metric": "headline_total",
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "queries": timings,
        "tier2_total": out["tier2_total"],
        "tier2": tier2,
        "skipped": len(budget.skipped),
        "detail": "BENCH_DETAIL.json",
        # in-band noise attestation: the three sentinel probe times, their
        # spread, the worst per-phase hypervisor-steal share, and the
        # end-of-run headline re-time total — a quiet run reads flat
        # (drift ~1.0, steal ~0, retime ~= value)
        "noise": {
            "sentinel_sec": [sentinels[k]["sec"] for k in ("start", "mid", "end")],
            "drift": noise["drift_ratio"],
            "max_steal_pct": max(noise["steal_pct"].values(), default=None),
            "noisy": noise["noisy"],
            "retime_total": out["headline_retime"]["retime_total"],
        },
    }
    if tier2_missing:
        compact["tier2_missing"] = tier2_missing
    if headline_missing:
        compact["headline_missing"] = headline_missing
    if "window" in out:
        compact["window"] = out["window"]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
