"""Corpus curation controls (SURVEY.md §2.12 X27): per-source caps and
source blocklists — the "don't let one domain dominate the corpus" family
every large-scale training pipeline runs between dedup and sampling
(C4 / Gopher / FineWeb all cap or down-weight dominant hosts).

Reference analogue: the reference gates rows per group in its report
invalidator (Report.java drop-lists); here the same keep/drop shape is
applied to corpus sources at document granularity.

100 TB design: the cap is a rank-within-source filter.  On Spark 3.5+/4
a ``rank()/row_number() <= k`` filter over a window is rewritten to a
``WindowGroupLimit`` physical node — each map task pre-prunes to its local
top-k per key BEFORE the shuffle, so a source with 10^9 docs ships at most
``cap`` rows per input partition instead of 10^9 rows to one reducer.  The
blocklist is a broadcast anti-join (blocklists are human-curated, i.e.
kilobytes).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.fastlit import lit_doubles


def per_source_cap(
    df: DataFrame,
    source_col: str,
    id_col: str,
    *,
    cap: int,
    quality_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per source, best-first: order by
    ``quality_col`` DESC (when given) with ``id_col`` ASC as the
    deterministic tie-break.  Adds ``source_rank`` (1-based) to the kept
    rows so downstream mixture shaping can weight by within-source rank.

    The ``row_number() <= cap`` shape is chosen deliberately over
    ``groupBy().agg(slice(sort_array(collect_list(...))))``: collect_list
    materializes an entire hot source in one reducer (OOM at 100 TB), while
    the window filter gets the WindowGroupLimit partial-limit rewrite —
    map-side pruning to ``cap`` rows per task per key (plan-asserted in
    tests/test_curation.py).
    """
    order = [F.col(id_col).asc()]
    if quality_col is not None:
        order.insert(0, F.col(quality_col).desc())
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("source_rank", F.row_number().over(w))
        .filter(F.col("source_rank") <= cap)
    )


def blocklist_filter(
    df: DataFrame,
    source_col: str,
    blocked: DataFrame | Sequence[str],
) -> DataFrame:
    """Drop documents whose source appears in ``blocked`` (a one-column
    DataFrame or an in-memory list).  Broadcast LEFT ANTI join — the
    blocklist side is small by construction, so no shuffle of the corpus;
    NULL sources are never dropped (anti-join semantics: NULL matches
    nothing), matching "unknown host passes to the next gate" curation
    convention."""
    if not isinstance(blocked, DataFrame):
        blocked = df.sparkSession.createDataFrame(
            [(s,) for s in blocked], f"{source_col} STRING"
        )
    bl = blocked.select(F.col(blocked.columns[0]).alias(source_col)).distinct()
    return df.join(F.broadcast(bl), on=source_col, how="left_anti")


def source_mix_report(
    df: DataFrame, source_col: str, *, weight_col: str | None = None
) -> DataFrame:
    """Corpus-composition report: per-source document count, weight sum
    (rows when ``weight_col`` is None) and corpus share — the before/after
    evidence for any cap/blocklist decision.  One partial-agg shuffle on
    the source key; the total is a broadcast one-row aggregate (same
    single-task-window avoidance as operators/skew.py:skew_key_report)."""
    wexpr = (
        F.count(F.lit(1)).cast("double")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("double"))
    )
    per = df.groupBy(F.col(source_col).alias("source_value")).agg(
        F.count(F.lit(1)).alias("n_docs"), wexpr.alias("weight")
    )
    total = per.agg(F.sum("weight").alias("_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "source_value",
        "n_docs",
        "weight",
        # zero/cancelling weights: share NULL, not an ANSI x/0 error
        F.when(F.col("_total") != 0, F.col("weight") / F.col("_total")).alias(
            "share"
        ),
    )


def temperature_resample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    *,
    tau: float = 0.5,
) -> DataFrame:
    """X32 temperature-flattened domain mixture (the alpha/temperature
    sampling of multilingual LM training, e.g. mBERT/mT5 exponent-smoothed
    language weights, public): resample so kept counts are ∝ n_i^tau —
    tau<1 flattens dominant domains, tau=1 is a no-op, tau=0 equalizes.

    Subsample-only solution that keeps the most data: rate_i =
    (n_min / n_i)^(1-tau) — the smallest domain keeps 100%, larger domains
    shed mass.  Rates are computed from ONE per-domain count aggregate
    (tiny), rounded to 1e-6 for engine independence, broadcast back, and
    membership is the md5("t0:"‖id) draw against rate*2^24 — pure
    function of the id: reproducible across engines/epochs, no RNG
    state, and the corpus itself never shuffles (row-local predicate after
    a broadcast hash join on the domain).

    NULL domains are resampled as their own domain (null-safe join), per
    the curation-family convention that a missing label is never silently
    dropped (cf. blocklist_filter passing NULL sources to the next gate).
    Output keeps the input columns plus ``keep_rate`` — the applied
    per-domain rate, deliberately surfaced as sampling provenance."""
    mult = 1000000.0
    counts = df.groupBy(F.col(domain_col).alias("_d")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "_d",
        (
            F.floor(
                F.pow(F.col("_nmin").cast("double") / F.col("_n"), F.lit(1.0 - tau))
                * mult
                + 0.5
            )
            / mult
        ).alias("keep_rate"),
    )
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("t0:"), F.col(id_col).cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("long")
    thr = F.floor(F.col("keep_rate") * (1 << 24)).cast("long")
    return (
        df.join(F.broadcast(rates), df[domain_col].eqNullSafe(rates["_d"]))
        .filter(draw < thr)
        .drop("_d")
    )


def select_to_token_budget(
    df: DataFrame,
    token_col: str,
    id_col: str,
    *,
    budget: int,
) -> DataFrame:
    """X33 token-budget corpus selection: greedily keep the highest-value
    documents (more tokens first, ``id_col`` ASC as the deterministic
    tie-break) until the cumulative token count would exceed ``budget`` —
    the "fill the training-token budget best-first" cut.

    NOT the obvious single global running-sum window (``orderBy`` with no
    ``partitionBy`` funnels the whole corpus through one task — the exact
    straggler anti-pattern).  Two-phase instead:

    1. ONE partial-agg shuffle to per-token-value totals (|distinct values|
       rows — bounded, like a histogram);
    2. running sum over that tiny value table to find the boundary value:
       every doc above it is kept outright, everything below dropped;
    3. one windowed pass over ONLY the boundary-value docs (a single
       partition key, sized |ties at the boundary|) to take the greedy
       prefix of the remaining budget.

    Output: kept (id, token, cum_tokens) where cum_tokens is the exact
    global greedy running total — identical to the naive single-window
    result (oracle-checked against it)."""
    toks = F.col(token_col).cast("long")
    per_value = df.groupBy(toks.alias("_v")).agg(
        F.sum(toks).alias("_vsum")
    )
    wv = Window.orderBy(F.col("_v").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # <= (not <) so a zero-token value group landing exactly ON the budget
    # is still admitted, matching the naive running-sum's `cum <= budget`;
    # positive-value groups at the boundary are still cut by the final
    # `_cum <= budget` filter
    value_cum = per_value.select(
        "_v", (F.sum("_vsum").over(wv) - F.col("_vsum")).alias("_cum_before")
    ).filter(F.col("_cum_before") <= budget)
    joined = df.join(
        F.broadcast(value_cum), df[token_col].cast("long") == value_cum["_v"]
    )
    wb = (
        Window.partitionBy("_v")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn("_cum", F.col("_cum_before") + F.sum(toks).over(wb))
        .filter(F.col("_cum") <= budget)
        .select(
            F.col(id_col),
            toks.alias("n_tokens"),
            F.col("_cum").alias("cum_tokens"),
        )
    )


def value_deciles(
    df: DataFrame,
    value_col: str,
    id_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """X47 curriculum binning: assign each document its quantile bin
    (decile by default) of ``value_col`` — the label a curriculum/quality-
    mixture sampler consumes ("train on top deciles first").

    Same two-phase histogram shape as :func:`select_to_token_budget` (the
    single global ``ntile()`` window would funnel the corpus through one
    task): ONE partial-agg shuffle to per-value counts, a running sum over
    that tiny value table, then a broadcast join back — bin =
    ``floor(n_bins * rows_before / total)`` capped at ``n_bins - 1``, so
    ties (equal values) always share a bin and the assignment is
    deterministic at any partitioning.  Bins are ascending: 0 = lowest
    values, ``n_bins``-1 = highest.

    Rows with a NULL or non-finite (NaN/±Inf) value are EXCLUDED
    (documented, not silent: a missing quality signal has no rank position,
    Spark and SQL engines disagree on NULL sort order, and both engines
    sort NaN/Inf LAST — which would hand garbage scores the TOP quality
    decile, the exact rows a curriculum sampler must not promote)."""
    from ..functions.guards import finite_d

    df = df.filter(finite_d(F.col(value_col)))
    v = F.col(value_col)
    per_value = df.groupBy(v.alias("_v")).agg(F.count(F.lit(1)).alias("_c"))
    wv = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_value.select(
        "_v", (F.sum("_c").over(wv) - F.col("_c")).alias("_before")
    )
    total = per_value.agg(F.sum("_c").alias("_total"))
    bins = cum.crossJoin(F.broadcast(total)).select(
        "_v",
        F.least(
            F.lit(n_bins - 1),
            F.floor(F.lit(n_bins) * F.col("_before") / F.col("_total")).cast("int"),
        ).alias("bin"),
    )
    return df.join(F.broadcast(bins), v == F.col("_v")).select(
        F.col(id_col), v.alias("value"), F.col("bin")
    )


def per_group_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    *,
    k: int,
    salt: str = "rs0",
) -> DataFrame:
    """X50 exact k-per-group uniform sample ("1000 random docs per
    language"): rank rows within each group by the md5(salt‖id) draw and
    keep the first ``k``.  Deterministic (pure function of salt and id — 
    reproducible across engines, epochs and partitionings, re-dealable by
    changing ``salt``), and unlike driver-side reservoir sampling it is
    fully distributed: the ``row_number() <= k`` shape compiles to
    WindowGroupLimit, so every map task pre-prunes to its local top-k per
    group BEFORE the shuffle — a group with 10^9 rows ships k rows per
    task, not 10^9 to one reducer.  Adds ``draw_rank`` (1-based)."""
    draw = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(draw.asc(), F.col(id_col).asc())
    return (
        df.withColumn("draw_rank", F.row_number().over(w))
        .filter(F.col("draw_rank") <= k)
    )


def target_mix_resample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """X51 rebalance the corpus to EXPLICIT target proportions (the
    Dolma/FineWeb-style "15% code, 60% web, 25% books" mixture spec), by
    subsampling only: the largest achievable corpus with exact proportions
    keeps ``N = min_i(n_i / t_i)`` total rows, so domain i keeps
    ``rate_i = t_i * N / n_i`` (the binding domain keeps 100%).  Domains
    absent from ``targets`` are dropped (an explicit mixture spec is a
    whitelist).

    Same scale shape as :func:`temperature_resample`: ONE per-domain count
    aggregate, rates rounded 1e-6 and broadcast back, membership a pure
    md5("m0:"‖id) draw — reproducible, no corpus shuffle.  Output adds
    ``keep_rate`` as sampling provenance.

    A target domain ABSENT from the corpus contributes no rows and no
    binding constraint: the result then holds the spec's proportions among
    the present domains only (check the per-domain counts upstream if a
    missing domain should be an error)."""
    mult = 1000000.0
    if not targets or abs(sum(targets.values()) - 1.0) > 1e-9:
        raise ValueError("targets must be a non-empty distribution summing to 1")
    if any(v <= 0 for v in targets.values()):
        # a zero target would divide by zero in the binding-domain search
        # (ANSI runtime error); "drop this domain" is a blocklist, not a mix
        raise ValueError("target shares must be positive; drop domains via blocklist instead")
    tgt = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())], f"{domain_col} STRING, _t DOUBLE"
    )
    counts = (
        df.groupBy(F.col(domain_col).alias("_d")).agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(tgt), F.col("_d").eqNullSafe(F.col(domain_col)))
        .drop(domain_col)
    )
    nmax = counts.agg(F.min(F.col("_n") / F.col("_t")).alias("_nk"))
    rates = counts.crossJoin(F.broadcast(nmax)).select(
        "_d",
        (
            F.floor(
                F.least(F.lit(1.0), F.col("_t") * F.col("_nk") / F.col("_n")) * mult + 0.5
            )
            / mult
        ).alias("keep_rate"),
    )
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("m0:"), F.col(id_col).cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("long")
    thr = F.floor(F.col("keep_rate") * (1 << 24)).cast("long")
    return (
        df.join(F.broadcast(rates), df[domain_col].eqNullSafe(rates["_d"]))
        .filter(draw < thr)
        .drop("_d")
    )


def pack_sequences_sharded(
    df: DataFrame,
    token_col: str,
    id_col: str,
    *,
    context_len: int,
    n_shards: int = 32,
) -> DataFrame:
    """X52 pretraining sequence packing, sharded: concatenate the document
    stream and cut fixed ``context_len`` windows — the standard "pack then
    split" exporter step.  A single global running total is the
    one-task-window anti-pattern, so documents are first dealt into
    ``n_shards`` deterministic hash shards (md5 draw — reproducible), and
    packing runs per shard: window partitioned BY SHARD, ordered by the
    in-shard draw with ``id_col`` tie-break.

    Output per doc: (shard, pack_id, offset_in_pack, n_tokens) where
    pack_id = floor(running_offset / context_len) within the shard —
    documents spanning a boundary start a new pack's tail (offset
    continues; an exporter reading in (shard, pack_id, offset) order
    reproduces the exact byte stream).  At 100 TB: one shuffle on the
    shard key; each shard's window is 1/n_shards of the corpus, and
    n_shards scales with the cluster.

    Zero-token documents are EXCLUDED (documented): they contribute no
    bytes, and several of them tying at one (pack_id, offset) slot would
    make the exporter order ambiguous — found by a randomized property
    run, pinned in tests."""
    df = df.filter(F.col(token_col).cast("long") > 0)
    draw = F.md5(F.concat(F.lit("p0:"), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(draw, 1, 6), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")
    toks = F.col(token_col).cast("long")
    base = df.select(
        F.col(id_col), toks.alias("n_tokens"), shard.alias("shard"), draw.alias("_draw")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_draw").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_before")
    return base.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        cum_before,
    ).select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(F.col("_before") / context_len).cast("int").alias("pack_id"),
        (F.col("_before") % context_len).cast("int").alias("offset_in_pack"),
    )


def importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: F.Column,
    *,
    n_buckets: int = 1024,
) -> DataFrame:
    """X58 DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", public): score every
    raw document by how target-like its hashed word-feature distribution
    is.  weight(doc) = Σ_occurrences log p̂_target(bucket) − log p̂_raw(bucket)
    over the doc's hashed unigram occurrences, with add-one smoothing over
    ``n_buckets`` buckets — the log importance ratio of two hashed bag-of-
    words multinomials.  Resample raw docs ∝ exp(weight) to shift a crawl
    toward a target domain without training a classifier.

    ``is_target`` is a boolean Column over ``df``'s rows marking the target
    exemplars (e.g. ``F.col("lang") == "en"`` or a curated-source flag).

    100 TB shape: ONE feature-bucket aggregate whose reduce side is
    ``n_buckets`` rows (the distributions), broadcast back onto the
    exploded features (map-side), then ONE doc-key aggregate — the corpus
    shuffles once, on the doc id.  Per-bucket log-ratios are
    engine-identical doubles; per-doc sums decimal-accumulate so the total
    is order-insensitive (the psi_drift pattern).  Totals come to the
    driver as TWO longs (bounded-collect pattern).  Docs with no features
    (empty text) keep weight 0.0 with n_feats 0."""
    from .dedup import normalized_text

    from ..sources.star import ensure_parallelism

    toks = F.split(normalized_text(F.col(text_col)), " ")
    feats = (
        ensure_parallelism(df)
        .select(F.col(id_col), is_target.alias("_t"), F.explode(toks).alias("_w"))
        .filter(F.length("_w") > 0)
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    fb = feats.select(F.col(id_col), "_t", bucket.alias("_b"))
    # localCheckpoint: the totals .first() below would otherwise re-run the
    # corpus-wide explode+aggregate a second time when the broadcast side is
    # built (dist is read twice — measured 2x the feature pass without it)
    dist = fb.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_n_raw"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_n_tgt"),
    ).localCheckpoint(eager=False)
    tot = dist.agg(F.sum("_n_raw").alias("r"), F.sum("_n_tgt").alias("t")).first()
    t_raw, t_tgt = int(tot["r"] or 0), int(tot["t"] or 0)
    log_ratio = F.log(
        (F.col("_n_tgt") + 1).cast("double") / float(t_tgt + n_buckets)
    ) - F.log((F.col("_n_raw") + 1).cast("double") / float(t_raw + n_buckets))
    lr = dist.select("_b", log_ratio.alias("_lr"))
    mult = 1e6
    per_doc = (
        fb.join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            (
                F.floor(
                    F.sum(F.col("_lr").cast("decimal(28,12)")).cast("double") * mult
                    + 0.5
                )
                / mult
            ).alias("weight"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("weight", F.lit(0.0)).alias("weight"),
        )
    )


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    *,
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "strat0",
) -> DataFrame:
    """X59 stratified train/val/test split: EXACT per-stratum proportions
    (±1 doc) — rank each stratum's docs by a deterministic md5 draw and cut
    at round(train·n) / round((train+val)·n).  A plain hash split only hits
    the fractions in expectation; per-language eval sets need them exact or
    rare strata end up with empty validation slices.

    Deterministic: the draw is md5(salt‖id) (no RNG state; new ``salt``
    re-deals), ordering is (draw, id) — a total order — and the cuts are
    integer arithmetic, so the assignment is reproducible across engines,
    partitionings and re-runs.

    100 TB shape: ONE shuffle on the stratum plus a within-partition sort
    (the price of exactness).  For web-scale strata where a single
    stratum's sort is the bottleneck, use the expectation-only draw of
    :func:`~..operators.dedup.leakage_safe_split` instead — and if near-dup
    structure matters, that function's cluster-keyed draw is the right tool
    anyway."""
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(strata_col).orderBy(draw.asc(), F.col(id_col).asc())
    n = F.count(F.lit(1)).over(Window.partitionBy(strata_col))
    r = F.row_number().over(w)
    cut_train = F.floor(F.lit(float(train)) * n + 0.5)
    cut_val = F.floor(F.lit(float(train + val)) * n + 0.5)
    split = (
        F.when(r <= cut_train, "train").when(r <= cut_val, "val").otherwise("test")
    )
    return df.select(
        F.col(id_col), F.col(strata_col).alias("stratum"), split.alias("split")
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """X60 within-group quantile (rank) normalization of a score column:
    percent_rank of ``value_col`` inside each ``group_col`` — the
    calibration step that makes a quality score comparable ACROSS groups
    (a "good" Swahili doc and a "good" English doc map to the same
    percentile even though the raw scorer is biased by language).  Gates
    like "keep the top 30% per language" become one filter on the output.

    Ties share a rank (standard percent_rank = (rank−1)/(n−1), identical
    in Spark and DuckDB); a single-row group normalizes to 0.0.  One
    shuffle on the group + within-partition sort; integer rank arithmetic,
    engine-deterministic."""
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    mult = 1e6
    pr = F.floor(F.percent_rank().over(w) * mult + 0.5) / mult
    return df.select(
        F.col(id_col),
        F.col(group_col).alias("group"),
        F.col(value_col).alias("value"),
        pr.alias("quantile"),
    )


def packing_report(
    packed: DataFrame,
    *,
    context_len: int,
) -> DataFrame:
    """X68 packing-efficiency report over :func:`pack_sequences_sharded`
    output: per shard — docs, tokens, packs, utilization (tokens /
    packs·context_len: everything below 1.0 is the final partial pack), and
    how many documents straddle a pack boundary (the concatenate-and-cut
    packing cost: a straddled doc is split across contexts, which some
    curricula refuse — this is the number you check before choosing
    document-boundary packing instead).

    One |shards|-row aggregate over the already-packed frame; ratios from
    exact integer sums."""
    mult = 1e6
    per = packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.when(F.col("offset_in_pack") + F.col("n_tokens") > context_len, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_straddling"),
    )
    n_packs = (F.floor((F.col("total_tokens") - 1) / context_len) + 1).cast("long")
    return per.select(
        "shard",
        "n_docs",
        "total_tokens",
        n_packs.alias("n_packs"),
        (
            F.floor(
                F.col("total_tokens").cast("double") / (n_packs * context_len) * mult
                + 0.5
            )
            / mult
        ).alias("utilization"),
        "n_straddling",
    )


def _exact_quantiles_reduced(
    df: DataFrame, value_expr, fracs: list[float]
) -> list[float] | None:
    """Exact ``percentile(value, fracs)`` — bit-identical to Spark's exact
    ``percentile`` aggregate — computed from the PER-VALUE COUNT reduction
    instead of the Percentile aggregation buffer.

    Spark's exact ``Percentile`` buffers every distinct value in ONE
    aggregation buffer on the merging reducer — memory ∝ |distinct|, an
    OOM for continuous scores/timestamps at corpus scale.  Here the corpus
    reduces to a per-value count table in one partial-agg shuffle; a
    running sum over that REDUCED table gives each value its sorted index
    range [rows_before, rows_before+count); the len(fracs) requested
    positions (a tiny broadcast) range-join against it and interpolate.
    Peak per-task state is one shuffle partition of DISTINCT values — the
    same bound as every other histogram-CDF operator here — instead of all
    of them in one buffer.

    Bit-identity with the JVM aggregate (so swapping this in leaves query
    hashes unchanged): position ``p·(n−1)`` is an IEEE double multiply
    (computed driver-side — same bits as the JVM's); integral positions
    and lower==higher-value positions return the value directly (the
    aggregate's two early returns); otherwise
    ``(k+1−pos)·v_lo + (pos−k)·v_hi`` in the aggregate's exact operand
    order.  NULLs are excluded like the aggregate does; NaN (if not
    pre-filtered) sorts above every double in BOTH paths.

    Two bounded driver materializations: the single (rows, distinct)
    stats row and the len(fracs)-row curve.  Costs one extra scan of
    ``df`` vs the single-aggregate form — linear, vs the buffer OOM it
    removes.  Returns None for an empty (or all-NULL) input.
    """
    spark = df.sparkSession
    vals = df.select(value_expr.cast("double").alias("_v")).where(
        F.col("_v").isNotNull()
    )
    per_value = vals.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
    # The row total is folded INTO the plan (1-row aggregate broadcast to
    # the fraction panel) instead of a separate count action, so the whole
    # curve is ONE driver action + ONE pass over the reduced table instead
    # of count-scan-then-curve-scan (r10: both callers are benched queries
    # and the extra scan+job was ~half their wall time).  Arithmetic is
    # unchanged bit for bit: p·(n−1) is the same IEEE double multiply the
    # driver did (n−1 cast long→double, exact below 2^53), and floor of a
    # non-negative double agrees between math.floor and F.floor.
    tot = per_value.agg(F.sum("_c").alias("_n"))
    pos = F.col("_p") * (F.col("_n") - 1).cast("double")
    pf = (
        spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(fracs)], "i int, _p double"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "i",
            pos.alias("_pos"),
            F.floor(pos).cast("long").alias("_k"),
        )
    )
    wv = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_value.select(
        "_v", "_c", (F.sum("_c").over(wv) - F.col("_c")).alias("_b")
    )
    # value at sorted index k is the one whose cumulative range covers k
    in_lo = (F.col("_k") >= F.col("_b")) & (
        F.col("_k") < F.col("_b") + F.col("_c")
    )
    in_hi = (F.col("_k") + 1 >= F.col("_b")) & (
        F.col("_k") + 1 < F.col("_b") + F.col("_c")
    )
    hit = cum.join(F.broadcast(pf), in_lo | in_hi)
    per_i = hit.groupBy("i", "_pos", "_k").agg(
        F.max(F.when(in_lo, F.col("_v"))).alias("_vlo"),
        F.max(F.when(in_hi, F.col("_v"))).alias("_vhi"),
    )
    kd = F.col("_k").cast("double")
    curve = (
        F.when(F.col("_pos") == kd, F.col("_vlo"))
        .when(F.col("_vhi") == F.col("_vlo"), F.col("_vlo"))
        .otherwise(
            F.col("_vlo") * (kd + F.lit(1.0) - F.col("_pos"))
            + F.col("_vhi") * (F.col("_pos") - kd)
        )
    )
    rows = per_i.select("i", curve.alias("_q")).orderBy("i").collect()
    # empty (or all-NULL) input: the NULL total never satisfies the range
    # join, so no curve rows come back — the old n == 0 early return
    if not rows:
        return None
    return [r["_q"] for r in rows]


def quantile_map(
    new_df: DataFrame,
    ref_df: DataFrame,
    value_col: str,
    id_col: str,
    *,
    grid: int = 1000,
) -> DataFrame:
    """X70 quantile mapping (CDF matching): re-express each NEW score as
    the REFERENCE-distribution value at the same percentile — the score
    calibration that makes two scorers (or two corpus snapshots)
    comparable when their raw scales drifted (quantile normalization;
    standard in batch-effect correction and model-score recalibration).

    mapped(x) = Q_ref(F_new(x)): percent_rank of x among the new scores
    (ties share a rank), then linear interpolation into the reference's
    exact quantile curve sampled at ``grid``+1 points.

    100 TB shape: BOTH sides now run the same two-phase histogram CDF as
    :func:`value_deciles` — percent_rank of a value v is exactly
    ``(# rows with value < v) / (n - 1)`` with ties sharing the minimum
    rank, so it is a pure function of the PER-VALUE COUNT TABLE: ONE
    partial-agg shuffle reduces each corpus to distinct values, a running
    sum over that reduced table yields ``rows_before`` per value, and the
    rank joins back (no corpus-sized sort, no single-task global window —
    the X70 anti-pattern this replaced).  The running-sum window IS global
    but runs over the aggregate-reduced value table.  The REFERENCE curve
    comes from :func:`_exact_quantiles_reduced` — bit-identical to Spark's
    exact ``percentile`` but without its buffer-every-distinct-value
    reducer (the OOM-at-100-TB hazard for continuous scores); the grid+1
    curve points are BAKED into the plan as one literal array (the
    bounded-collect pattern) and the interpolation is row-local array
    math.  The rank join-back strategy is decided by AQE at runtime from
    the rank table's actual post-shuffle size — a small table converts to
    a broadcast join, a continuous all-distinct corpus exceeds the
    threshold and keeps the shuffle join (the executor-OOM escape), and no
    driver-side probe job is needed.

    Rows with a NULL or non-finite (NaN/±Inf) score are EXCLUDED on BOTH
    sides (a missing score has no rank position; Spark windows order NULLS
    FIRST while most SQL engines order NULLS LAST — admitting them would
    shift every percent_rank engine-dependently — and a single NaN in the
    reference snapshot would poison the quantile curve's upper tail, since
    Spark's percentile sorts NaN above every double)."""
    from ..functions.guards import finite_d

    fracs = [i / grid for i in range(grid + 1)]
    curve_vals = _exact_quantiles_reduced(
        ref_df.filter(finite_d(F.col(value_col))), F.col(value_col), fracs
    )
    if curve_vals is None:
        # no reference distribution to map onto — a silent NULL curve would
        # produce all-NULL mapped values downstream; fail loudly instead
        raise ValueError("quantile_map: reference frame has no non-null values")
    q = lit_doubles(curve_vals)
    base = new_df.filter(finite_d(F.col(value_col))).select(
        F.col(id_col), F.col(value_col).alias("value")
    )
    per_value = base.groupBy("value").agg(F.count(F.lit(1)).alias("_c"))
    # The corpus total folds INTO the plan (1-row aggregate broadcast onto
    # the reduced value table — the _exact_quantiles_reduced shape): the
    # former stats .first() was a whole extra job + corpus pass per
    # execution.  Both branches build on the SAME partial-count exchange,
    # so AQE's exchange reuse executes the new-side scan once.  Arithmetic
    # is bit-identical: (n−1) is a long→double cast (exact below 2^53) and
    # the divide takes the same IEEE operands the literal path supplied;
    # the 1-row corpus still maps to rank 0.0, and an empty corpus has no
    # rows to rank.
    tot = per_value.agg(F.sum("_c").alias("_n"))
    wv = Window.orderBy(F.col("value").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_value.select(
        F.col("value").alias("_v"),
        (F.sum("_c").over(wv) - F.col("_c")).alias("_before"),
    ).crossJoin(F.broadcast(tot))
    # percent_rank = (min_rank - 1) / (n - 1) = rows_before / (n - 1); a
    # 1-row corpus has rank 0.0 by both engines' definition
    pr_val = F.when(
        F.col("_n") > 1,
        F.col("_before").cast("double") / (F.col("_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    ranks = cum.select("_v", pr_val.alias("_pr"))
    pr = F.col("_pr")
    idx = pr * grid
    lo = F.floor(idx).cast("int")
    frac = idx - lo
    q_lo = F.element_at(q, lo + 1)
    q_hi = F.element_at(q, F.least(lo + F.lit(2), F.lit(grid + 1)))
    mapped = q_lo + frac * (q_hi - q_lo)
    mult = 1e6
    # No join hint: AQE's runtime sort-merge→broadcast conversion measures
    # the rank table's ACTUAL post-shuffle bytes — strictly safer than the
    # former distinct-count probe (it needed a whole extra job per
    # execution) and scale-adaptive by construction: a continuous
    # all-distinct corpus exceeds the broadcast threshold and stays a
    # shuffle join, the common small rank table converts at runtime.
    return base.join(ranks, F.col("value") == F.col("_v")).select(
        id_col,
        "value",
        (F.floor(pr * mult + 0.5) / mult).alias("quantile"),
        (F.floor(mapped * mult + 0.5) / mult).alias("mapped_value"),
    )


def temporal_split_embargo(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    *,
    train_frac: float = 0.8,
    embargo_seconds: float = 3600.0,
) -> DataFrame:
    """X71 temporal train/test split with an embargo gap: train = the
    earliest ``train_frac`` of rows by timestamp, test = everything after
    the cutoff PLUS an embargo period, in-between rows = 'embargo'
    (dropped by the caller) — the leakage-safe split for time-dependent
    data (a random split lets the model see the future; rows just after
    the cutoff leak label horizon into test, which the embargo removes —
    the purged/embargoed CV rule, public standard in financial ML).

    Cutoff = the exact ``train_frac`` quantile of the epoch timestamp,
    computed by :func:`_exact_quantiles_reduced` (bit-identical to Spark's
    exact ``percentile`` but via the per-value count reduction — event
    timestamps are near-all-distinct, exactly the input that OOMs the
    Percentile aggregate's buffer-every-distinct-value reducer at corpus
    scale) — ONE double to the driver, baked as a plan literal (the
    bounded-collect pattern); membership is a row-local epoch
    comparison."""
    ep = F.col(ts_col).cast("timestamp").cast("double")
    q = _exact_quantiles_reduced(df, ep, [float(train_frac)])
    cut = 0.0 if q is None or q[0] is None else float(q[0])
    return df.select(
        F.col(id_col), F.col(ts_col).cast("timestamp").alias("ts")
    ).select(
        id_col,
        "ts",
        F.when(F.col("ts").cast("double") <= F.lit(cut), "train")
        .when(
            F.col("ts").cast("double") > F.lit(cut + float(embargo_seconds)), "test"
        )
        .otherwise("embargo")
        .alias("split"),
    )


def weighted_per_group_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    *,
    k: int,
) -> DataFrame:
    """X74 exact k-per-group WEIGHTED sample without replacement —
    Efraimidis & Spirakis (2006, public): rank each row by key
    ``u^(1/w)`` (equivalently ``ln(u)/w``, compared descending) for a
    uniform draw ``u`` and weight ``w``, keep the top ``k`` per group;
    inclusion probability is proportional to weight, exactly the
    one-pass distributed weighted reservoir.

    Deterministic: ``u`` derives from md5("ws0:"‖id) (a pure function
    of the id) and the sort key is floor-rounded to a 1e-9
    grid BEFORE ranking with an id tiebreak — a 1-ulp libm divergence in
    ``ln`` can only flip a rank at a grid boundary (the decayed_activity
    discipline), so the sample is reproducible across engines and
    partitionings.  Rows with NULL or non-positive weight are excluded
    (they have no inclusion probability).  Same WindowGroupLimit shape as
    the uniform sampler: map tasks pre-prune to local top-k per group."""
    mult = 1e9
    w_val = F.col(weight_col).cast("double")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws0:"), F.col(id_col).cast("string"))), 1, 6
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / float((1 << 24) + 1)
    key = F.floor(F.log(u) / w_val * mult + 0.5) / mult
    win = Window.partitionBy(group_col).orderBy(
        F.col("_key").desc(), F.col(id_col).asc()
    )
    return (
        df.filter(w_val.isNotNull() & (w_val > 0))
        .withColumn("_key", key)
        .withColumn("weight_rank", F.row_number().over(win))
        .filter(F.col("weight_rank") <= k)
        .drop("_key")
    )


def concentration_report(
    df: DataFrame,
    group_col: str,
    within_col: str,
) -> DataFrame:
    """X81 source-concentration report: per ``group_col`` (e.g. language),
    the Herfindahl–Hirschman index Σ share_i² over ``within_col`` (e.g.
    source) plus the top share and source count — the standard
    concentration read ("is this language's data effectively one crawl?"):
    HHI = 1/n for a uniform mix, → 1.0 for a monopoly.

    One (group, within) count aggregate (reduce side |groups|·|sources|),
    then a |groups|-row rollup; shares and HHI from exact integer counts,
    decimal-accumulated squares so the sum is order-insensitive."""
    mult = 1e6
    counts = df.groupBy(
        F.col(group_col).alias("group"), F.col(within_col).alias("_w")
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    totals = counts.groupBy("group").agg(F.sum("_n").cast("long").alias("_tot"))
    share = F.col("_n").cast("double") / F.col("_tot")
    return (
        counts.join(F.broadcast(totals), "group")
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max("_tot").cast("long").alias("n_docs"),
            (
                F.floor(
                    F.sum((share * share).cast("decimal(28,12)")).cast("double") * mult
                    + 0.5
                )
                / mult
            ).alias("hhi"),
            (F.floor(F.max(share) * mult + 0.5) / mult).alias("top_share"),
        )
    )

def kfold_assign(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 5,
    strata_col: str | None = None,
    salt: str = "cv0",
) -> DataFrame:
    """k-fold cross-validation assignment: every row gets a fold in
    ``[0, k)`` from a deterministic md5(salt‖id) draw — train/eval k times
    with fold i held out and no row ever in two folds.  With ``strata_col``
    the folds are EXACT per stratum (±1 row): rows are ranked within the
    stratum by the draw and dealt round-robin, so a rare language still
    lands ``n/k`` rows in every fold instead of hash-lottery variance.

    Deterministic and engine-portable: md5 is md5, ordering is
    (draw, id) — a total order — and dealing is ``(rank-1) % k``; a new
    ``salt`` re-deals every fold without touching any RNG state.

    100 TB shape: the unstratified path is map-only (a pure hash mod — no
    shuffle at any scale); the stratified path is ONE shuffle on the
    stratum plus a within-partition sort, the same price
    :func:`stratified_split` pays for exactness.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    if strata_col is None:
        fold = F.pmod(draw, F.lit(k))
    else:
        w = Window.partitionBy(strata_col).orderBy(draw.asc(), F.col(id_col).asc())
        fold = (F.row_number().over(w) - 1) % k
    cols = [F.col(id_col)]
    if strata_col is not None:
        cols.append(F.col(strata_col).alias("stratum"))
    return df.select(*cols, fold.cast("int").alias("fold"))

def batch_by_length(
    df: DataFrame,
    token_col: str,
    id_col: str,
    *,
    batch_size: int = 32,
    n_shards: int = 32,
) -> DataFrame:
    """X88 length-bucketed inference/training batching: deal rows into
    deterministic hash shards, sort each shard by token count (desc, id
    tie-break), and cut fixed-size batches — near-equal lengths per batch,
    so padding-to-batch-max waste collapses versus arrival-order batching
    (the standard bucketed-batching trick every inference server and
    padded-training exporter uses).

    Output per row: (id, shard, batch_id, n_tokens, batch_max_tokens,
    pad_tokens) where pad = batch_max − own length: ``sum(pad) /
    sum(batch_max)`` over any slice IS the padding-waste share, directly
    comparable against an arrival-order baseline.

    100 TB shape: the same contract as :func:`pack_sequences_sharded` —
    one shuffle on the md5 shard key, a per-shard window sort (each shard
    is 1/n_shards of the corpus; n_shards scales with the cluster), and a
    second window over (shard, batch) that reuses the same partitioning.
    Zero/NULL-token rows are excluded (documented): they carry no work and
    would all tie at the sort tail.
    """
    n_tok = F.col(token_col).cast("long")
    df = df.filter(n_tok > 0)
    draw = F.md5(F.concat(F.lit("b0:"), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(draw, 1, 6), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")
    with_shard = df.select(
        F.col(id_col), n_tok.alias("n_tokens"), shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("n_tokens").desc(), F.col(id_col).asc()
    )
    batched = with_shard.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )
    wb = Window.partitionBy("shard", "batch_id")
    return batched.select(
        id_col,
        "shard",
        "batch_id",
        "n_tokens",
        F.max("n_tokens").over(wb).alias("batch_max_tokens"),
        (F.max("n_tokens").over(wb) - F.col("n_tokens")).alias("pad_tokens"),
    )

def pack_documents_nostraddle(
    df: DataFrame,
    token_col: str,
    id_col: str,
    *,
    context_len: int,
    n_shards: int = 32,
) -> DataFrame:
    """X89 no-straddle document packing: greedy next-fit — walk each
    shard's documents in a deterministic md5 order and open a new bin
    whenever the next document would cross the ``context_len`` boundary.
    Documents are NEVER split (the instruction-tuning / SFT exporter mode,
    where an example must not straddle two contexts); the concat-and-cut
    pretraining mode is :func:`pack_sequences_sharded`.  Documents longer
    than ``context_len`` get a bin of their own with ``overflow`` = true —
    surfaced, not silently dropped or truncated.

    The per-shard scan is inherently sequential (each placement depends on
    the previous bin's fill), so it runs as ONE Arrow ``applyInPandas``
    pass per shard — a linear numpy-free loop over the shard's (draw, id)-
    sorted rows; state is two ints.  100 TB shape: the same contract as
    pack_sequences_sharded — one shuffle on the md5 shard key, shards
    scale with the cluster, and no global order or driver state exists.
    Zero/NULL-token documents are excluded (same contract, same reason).

    Output per doc: (id, shard, bin_id, offset_in_bin, n_tokens, overflow).
    Deterministic on any partitioning: order is (draw, id), a total order.
    """
    import pandas as pd

    df = df.filter(F.col(token_col).cast("long") > 0)
    draw = F.md5(F.concat(F.lit("p0:"), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(draw, 1, 6), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")
    base = df.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("n_tokens"),
        shard.alias("shard"),
        draw.alias("_draw"),
    )
    out_schema = (
        f"{id_col} {dict(df.dtypes)[id_col]}, shard int, bin_id long, "
        "offset_in_bin long, n_tokens long, overflow boolean"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_draw", id_col], kind="mergesort")
        bin_id, used = 0, 0
        bins, offsets, flags = [], [], []
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if not first and used + n > context_len:
                bin_id += 1
                used = 0
            first = False
            bins.append(bin_id)
            offsets.append(used)
            flags.append(n > context_len)
            used += n
            if used >= context_len:  # full (or oversize) bin: start fresh
                bin_id += 1
                used = 0
                first = True
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "shard": pdf["shard"],
                "bin_id": bins,
                "offset_in_bin": offsets,
                "n_tokens": pdf["n_tokens"],
                "overflow": flags,
            }
        )

    return base.groupBy("shard").applyInPandas(_pack, schema=out_schema)
