"""Mergeable sketches: Count-Min (frequency), equi-width histogram
(quantile) and a portable HyperLogLog (distinct).

The 100 TB pattern: compute one small sketch per partition / group / day,
STORE the sketches (kilobytes), and merge them later for any rollup —
answers across arbitrary group combinations without re-touching raw data.
This is the mergeable-summary architecture the reference's report engine
lacks (it recounts from raw on every compile, ``report_generator.py:384``);
at scale the sketch column is the only thing that moves.

``approx_count_distinct`` (HLL++) covers the one-shot distinct case; these
helpers cover the store-and-merge case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Count-Min frequency sketch — the FREQUENCY counterpart of the HLL distinct
# sketch, hand-rolled on built-in expressions (Spark ships no CM function).
# Same store-and-merge architecture: one (depth × width) counter array per
# group/shard/day (kilobytes), merged by element-wise sum, point-queried
# for heavy-hitter estimates.  Guarantees: estimate >= true count always
# (counters only over-count on hash collisions); width w bounds the
# overestimate by ~2N/w per row, and taking the min over depth independent
# rows drives the failure probability down exponentially.
# ---------------------------------------------------------------------------


def _cm_bucket(item: F.Column, r: int, width: int) -> F.Column:
    """Row-``r`` bucket of ``item``: the first 8 hex chars of
    ``md5("r:item")`` as a 32-bit int — engine-portable, so the whole
    sketch→merge→point-query pipeline can be recomputed bit for bit by a
    SQL oracle (the dedup_simhash precedent)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{r}:"), item.cast("string"))), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width))


def cm_sketch(
    df: DataFrame,
    item_col: str,
    group_cols: list[str],
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """One Count-Min sketch per group: a flat ``depth*width`` LONG array
    in column ``cm``.

    Build shape: explode each item into its ``depth`` (row, bucket) cells,
    ONE groupBy counts cell hits (partial agg compresses the explode
    map-side), then cells collapse to the flat array via an O(size) map
    lookup — the shuffles move (group, cell, count) triples, never items.

    NULL items are uncountable keys and are excluded BEFORE hashing, the
    same shape distinct_sketch uses."""
    cells = df.where(F.col(item_col).isNotNull()).select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    (F.lit(r * width) + _cm_bucket(F.col(item_col), r, width))
                    .cast("int")
                    .alias("c")
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    )
    counts = cells.groupBy(*group_cols, "cell").agg(F.count(F.lit(1)).alias("n"))
    size = depth * width
    cell_map = F.map_from_entries(F.collect_list(F.struct("cell", "n")))
    return counts.groupBy(*group_cols).agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(size - 1)),
            lambda i: F.coalesce(
                F.element_at(cell_map, i.cast("int")), F.lit(0).cast("long")
            ),
        ).alias("cm")
    )


def cm_merge(df: DataFrame, group_cols: list[str] | None = None, sketch_col: str = "cm") -> DataFrame:
    """Element-wise-sum sketches (optionally per coarser group) — the rollup
    step.  Only kilobyte arrays move; raw data is never re-touched.

    Merge state is bounded by the SKETCH WIDTH, not the partial count:
    ``posexplode`` each stored sketch to (group, position, value), sum per
    (group, position) — map-side partial aggregation collapses each task's
    partials before the shuffle, reduce state is one long per position —
    then reassemble the array from the width-bounded per-position rows.
    The previous ``collect_list(sketch)``-then-fold form buffered EVERY
    stored partial in one aggregation buffer (a year of per-day partials:
    fine; millions of per-file partials at 100 TB: the
    buffer-∝-input-rows class this repo eliminates everywhere else)."""
    gcols = list(group_cols) if group_cols else []
    ex = df.select(*gcols, F.posexplode(sketch_col).alias("_pos", "_v"))
    sums = ex.groupBy(*gcols, "_pos").agg(F.sum("_v").alias("_s"))
    merged = F.transform(
        F.array_sort(F.collect_list(F.struct("_pos", "_s"))), lambda s: s["_s"]
    )
    gb = sums.groupBy(*gcols) if gcols else sums.groupBy()
    return gb.agg(merged.alias(sketch_col))


def cm_query(
    df: DataFrame,
    item_col,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query: estimated frequency of ``item_col``'s value in each
    row's sketch = min over the depth rows of that item's counter."""
    est = F.least(
        *[
            F.element_at(
                F.col("cm"),
                (F.lit(r * width) + _cm_bucket(item_col, r, width)).cast("int")
                + 1,
            )
            for r in range(depth)
        ]
    )
    return df.withColumn("cm_estimate", est)


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram — the QUANTILE member of the sketch trio
# (HLL = distinct, CM = frequency, histogram = distribution).  Fixed bin
# edges make the merge exact (element-wise sum), unlike sampled summaries;
# quantile error is bounded by one bin width.  approx_percentile covers the
# one-shot case; this covers store-and-merge.
# ---------------------------------------------------------------------------


def hist_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    *,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """One histogram per group over ``[lo, hi)``: a flat ``n_bins`` LONG
    array in column ``hist`` (values outside the range clamp into the edge
    bins, so totals are preserved).  Same two-shuffle build as cm_sketch:
    (group, bin) counts, then an O(n_bins) collapse — rows never move.

    Non-finite values (NaN/±Inf) are excluded like NULLs BEFORE the bin
    arithmetic: ``floor((inf - lo)/w)`` is a bigint-max under ANSI whose
    int cast RAISES (CAST_OVERFLOW) — one broken reading would kill the
    whole sketch job."""
    from .guards import finite_d

    # divide by the bin width directly (not (v/span)*n_bins, whose two
    # roundings can land edge values one bin low); clamp ON THE DOUBLE,
    # before the int cast — a large-but-finite reading (e.g. 5e12 over a
    # [0,1000) range) floors to a bigint far past int range, and under
    # ANSI the cast itself raises CAST_OVERFLOW before a post-cast clamp
    # could ever run
    bin_width = (hi - lo) / n_bins
    bin_idx = F.floor(
        F.least(
            F.lit(float(n_bins - 1)),
            F.greatest(
                F.lit(0.0), (F.col(value_col).cast("double") - lo) / bin_width
            ),
        )
    ).cast("int")
    counts = (
        df.where(finite_d(F.col(value_col)))
        .select(*group_cols, bin_idx.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bin_map = F.map_from_entries(F.collect_list(F.struct("bin", "n")))
    return counts.groupBy(*group_cols).agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bins - 1)),
            lambda i: F.coalesce(
                F.element_at(bin_map, i.cast("int")), F.lit(0).cast("long")
            ),
        ).alias("hist")
    )


def hist_merge(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Element-wise-sum histograms — identical law to cm_merge (fixed bin
    edges make merged == whole-data histogram, exactly)."""
    return cm_merge(df, group_cols, "hist")


def hist_quantile(
    df: DataFrame, p: float, *, lo: float, hi: float
) -> DataFrame:
    """Estimate the p-quantile from each row's histogram: first bin where
    the cumulative count reaches p·total, reported as that bin's upper
    edge — error bounded by one bin width.  Pure array expressions."""
    h = F.col("hist")
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    cum = F.transform(
        F.sequence(F.lit(1), F.size(h)),
        lambda i: F.aggregate(F.slice(h, 1, i.cast("int")), F.lit(0).cast("long"), lambda a, x: a + x),
    )
    target = (total.cast("double") * p).cast("double")
    # position of the first cumulative >= target (1-based); filter+size is
    # the rank of bins strictly below the target
    below = F.size(F.filter(cum, lambda c: c.cast("double") < target))
    n_bins = F.size(h)
    width = (hi - lo) / 1.0
    edge = F.lit(lo) + (below + 1).cast("double") * (F.lit(width) / n_bins.cast("double"))
    return df.withColumn("quantile_est", F.least(F.lit(float(hi)), edge))


# ---------------------------------------------------------------------------
# Portable HLL — a hand-rolled HyperLogLog in the engine-portable md5_32
# hash mode (the dedup_simhash / cm_sketch precedent), so the whole
# registers→max-merge→estimate pipeline is recomputable bit for bit by a
# SQL oracle, so the DISTINCT member of the sketch trio is
# hash-gate-checked like the frequency (CM) and quantile (hist) members.
#
# Layout (Flajolet et al. 2007): 32-bit hash = md5 first 8 hex chars;
# register index = top ``HLL_P`` bits, rank = leading-zero count of the
# remaining ``32-HLL_P`` bits + 1 (all-zero window → W+1).  Merge is
# element-wise max (associative ⇒ merged shards ≡ sketch of the union —
# the law that makes the artifact storable).  Everything through the hash
# gate is INTEGER arithmetic: rank via a generated power-of-two CASE
# ladder (the r8 driver red traced to `bin()`/`conv` string bit-length,
# whose zero-padding is engine-version-sensitive), Z as the integer
# numerator Σ 2^(RMAX−rank) (each term ≤ 2^RMAX, sum ≤ m·2^RMAX < 2^34 —
# exact in bigint AND in double).  The raw estimate is then ONE
# deterministic IEEE op, floor((alpha_m·m²·2^RMAX) / z_num): the scaled
# constant is a double literal baked identically into both engines,
# z_num converts to double exactly, and IEEE division + floor are
# correctly rounded everywhere — no float SUM, no decimal stringification.
# The declared estimate is the RAW one (no linear-counting branch:
# m·ln(m/V) pulls in libm, whose last-ulp behaviour is the one thing
# Spark's JVM and DuckDB's C runtime don't share).
# ---------------------------------------------------------------------------

HLL_P = 9  #: register-index bits → m = 512 registers (σ ≈ 1.04/√m ≈ 4.6%)
HLL_M = 1 << HLL_P
_HLL_W = 32 - HLL_P  #: rank window bits
_HLL_RMAX = _HLL_W + 1  #: rank of the all-zero window
#: alpha_m · m² for m ≥ 128 (the standard bias constant) pre-scaled by
#: 2^RMAX (an exact exponent shift), baked as the SAME double literal into
#: the Spark plan and the oracle SQL: estimate = floor(this / z_num).
HLL_ALPHA_MM = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M
HLL_ALPHA_MM_SCALED = HLL_ALPHA_MM * (1 << _HLL_RMAX)
#: integer weights 2^(RMAX-r), r = 0.._HLL_RMAX — z_num = Σ weights[rank]
HLL_POW2_INT = [1 << (_HLL_RMAX - r) for r in range(_HLL_RMAX + 1)]


def _hll_bitlen(w: F.Column) -> F.Column:
    """Bit length of a ``_HLL_W``-bit non-negative integer as a pure-integer
    CASE ladder — no ``conv``/``bin`` string round-trip (their zero-padding
    on integer types is engine-version-sensitive; the r8 driver-red class).
    The DuckDB oracle generates the identical ladder from the same loop."""
    out = F.lit(0)
    for b in range(1, _HLL_W + 1):
        out = F.when(w >= F.lit(1 << (b - 1)), F.lit(b)).otherwise(out)
    return out


def hll_bitlen_sql(expr: str) -> str:
    """The DuckDB twin of :func:`_hll_bitlen`, generated from the same
    constants so the two ladders cannot drift."""
    cases = " ".join(
        f"WHEN {expr} >= {1 << (b - 1)} THEN {b}" for b in range(_HLL_W, 0, -1)
    )
    return f"(CASE {cases} ELSE 0 END)"


def _hll_hash_cols(item: F.Column) -> tuple[F.Column, F.Column]:
    """(register index, rank) of one item under the md5_32 layout."""
    h = F.conv(F.substring(F.md5(item.cast("string")), 1, 8), 16, 10).cast("long")
    idx = F.shiftright(h, _HLL_W).cast("int")
    w = h.bitwiseAND(F.lit((1 << _HLL_W) - 1))
    rank = F.when(w == 0, F.lit(_HLL_RMAX)).otherwise(F.lit(_HLL_RMAX) - _hll_bitlen(w))
    return idx, rank.cast("int")


def hll_portable_registers(df: DataFrame, item_col: str, group_cols: list[str]) -> DataFrame:
    """One portable-HLL register array (``hll``, int[HLL_M]) per group —
    the storable kilobyte artifact.  NULL items are skipped like the
    DataSketches path skips them.  Build shape mirrors cm_sketch: one
    groupBy collapses (group, idx) → max rank (map-side partial max), then
    an O(m) map lookup assembles the array — raw rows shuffle once as
    (group, idx, rank) triples."""
    it = F.col(item_col)
    idx, rank = _hll_hash_cols(it)
    regs = (
        df.where(it.isNotNull())
        .select(*group_cols, idx.alias("_idx"), rank.alias("_rank"))
        .groupBy(*group_cols, "_idx")
        .agg(F.max("_rank").alias("_reg"))
    )
    # Assemble the dense register array by GAP-FILLING the sorted sparse
    # entries: for each present (idx, reg) emit [0]*(idx - prev_idx - 1) ++
    # [reg], then pad the tail to m.  Identical output to the former
    # per-position map lookup (position j = reg if present else 0), but
    # O(m + k) instead of O(m·k): element_at on a MAP is a linear key scan,
    # so the m-position probe over k collected entries was quadratic in
    # practice — measured as a 1.4 s single-task stage (AQE coalesces the
    # kilobyte group table to one partition) on the sf0.1 HLL rollup.
    # _entries is aggregated first and FENCED so the building lambda reads
    # a bound attribute — an inlined sort expression would re-evaluate per
    # element (the winnow_fingerprints lambda-capture class).
    from ..sources.star import stage_barrier

    agged = stage_barrier(
        regs.groupBy(*group_cols).agg(
            F.array_sort(F.collect_list(F.struct("_idx", "_reg"))).alias("_entries")
        ),
        "_entries",
    )
    ent = F.col("_entries")

    def e_idx(i):
        return F.element_at(ent, i)["_idx"]

    hll = F.concat(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(ent)),
                lambda i: F.concat(
                    F.array_repeat(
                        F.lit(0),
                        (
                            e_idx(i)
                            - F.when(i == 1, F.lit(-1)).otherwise(e_idx(i - 1))
                            - 1
                        ).cast("int"),
                    ),
                    F.array(F.element_at(ent, i)["_reg"]),
                ),
            )
        ),
        F.array_repeat(
            F.lit(0), (F.lit(HLL_M - 1) - e_idx(F.size(ent))).cast("int")
        ),
    )
    return agged.select(*group_cols, hll.alias("hll"))


def hll_portable_merge(
    df: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Element-wise-MAX register arrays (optionally per coarser group) —
    the rollup step; same width-bounded posexplode shape as cm_merge
    (reduce state is one int per register, never ∝ stored partials)."""
    gcols = list(group_cols) if group_cols else []
    ex = df.select(*gcols, F.posexplode("hll").alias("_pos", "_v"))
    mx = ex.groupBy(*gcols, "_pos").agg(F.max("_v").alias("_m"))
    arr = F.transform(F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"])
    gb = mx.groupBy(*gcols) if gcols else mx.groupBy()
    return gb.agg(arr.alias("hll"))


def hll_portable_estimate(
    df: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Raw HLL estimate per group from a register-array column: explode the
    m registers, ``z_num`` = Σ 2^(RMAX−reg) as an EXACT integer
    (order-independent, ≤ m·2^RMAX < 2^34), then
    ``est = floor(alpha_m·m²·2^RMAX / z_num)`` — one deterministic IEEE
    divide+floor on exactly-representable inputs.  Adds ``zero_registers``
    (linear-counting diagnostic) and ``z_num`` alongside ``estimate`` —
    callers wanting the small-range linear-counting branch apply it on
    those columns (floats are fine outside the oracle gate)."""
    pow2 = F.array(*[F.lit(v).cast("long") for v in HLL_POW2_INT])
    ex = df.select(*group_cols, F.explode("hll").alias("_reg"))
    agg = ex.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("_reg") == 0, 1).otherwise(0)).cast("long").alias("zero_registers"),
        F.sum(F.element_at(pow2, F.col("_reg") + 1)).cast("long").alias("z_num"),
    )
    return agg.withColumn(
        "estimate",
        F.floor(F.lit(HLL_ALPHA_MM_SCALED) / F.col("z_num").cast("double")).cast("long"),
    )


def hll_portable_rollup(
    df: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Fused max-merge + estimate + shard count per coarser group, ONE pass
    over the stored register arrays (a separate count aggregation would
    re-derive — and re-scan — the shard build lineage).  posexplode each
    array, per (group, position) take max register AND the row count (every
    position sees every shard, so the count at any position == n shards),
    then one m-bounded aggregation computes zeros, exact-integer z_num, and
    the floored raw estimate.  Output: group cols + n_sketches,
    zero_registers, z_num, estimate."""
    pow2 = F.array(*[F.lit(v).cast("long") for v in HLL_POW2_INT])
    ex = df.select(*group_cols, F.posexplode("hll").alias("_pos", "_v"))
    mx = ex.groupBy(*group_cols, "_pos").agg(
        F.max("_v").alias("_m"), F.count(F.lit(1)).alias("_n")
    )
    agg = mx.groupBy(*group_cols).agg(
        F.max("_n").cast("long").alias("n_sketches"),
        F.sum(F.when(F.col("_m") == 0, 1).otherwise(0)).cast("long").alias("zero_registers"),
        F.sum(F.element_at(pow2, F.col("_m") + 1)).cast("long").alias("z_num"),
    )
    return agg.withColumn(
        "estimate",
        F.floor(F.lit(HLL_ALPHA_MM_SCALED) / F.col("z_num").cast("double")).cast("long"),
    )
