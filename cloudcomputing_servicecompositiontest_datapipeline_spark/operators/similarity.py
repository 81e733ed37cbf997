"""Embedding similarity search (SURVEY.md §2.12 X3): brute-force cosine top-k
as the exact baseline, plus a hyperplane-LSH bucketed variant as the scale
path.

Scale design: brute force is a broadcast join of the (small) query set
against the (huge) corpus — linear scan, embarrassingly parallel, no shuffle
of the corpus.  The LSH variant buckets both sides by sign-pattern so only
same-bucket candidates are scored: sublinear scan at the cost of recall.
All arithmetic is JVM-side (``zip_with``/``aggregate``); dot products are
accumulated in decimal so results are partition-order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.fastlit import lit_double_matrix, lit_doubles
from ..sources.star import ensure_parallelism
from .dedup import cluster_canonical

# Scale 12 matches every oracle's cast(... AS decimal(28,12)) rounding, so
# values are engine-identical; precision 18 keeps Spark on its compact-LONG
# decimal fast path (precision > 18 switches to BigDecimal — measured 2.2x
# slower per fold on the signature microbench).  6 integer digits bound the
# domain at |value| < 10^6: embedding components are O(1) and md5 hyperplane
# components are < 500, so per-term products stay < 10^3 and 64-term folds
# < 10^5, with ANSI overflow as the loud failure if a caller ever exceeds it.
_ACC_DEC = "decimal(18,12)"


def _dot_dec(a: F.Column, b: F.Column) -> F.Column:
    """Exact decimal dot product: per-element double products (identical IEEE
    on any engine) cast to decimal, then an order-fixed fold."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_ACC_DEC))
    # Spark widens decimal addition (28,12)+(28,12)→(29,12); re-cast to keep
    # the fold accumulator type fixed.
    return F.aggregate(prods, F.lit(0).cast(_ACC_DEC), lambda acc, x: (acc + x).cast(_ACC_DEC))


def _dot_seq(a: F.Column, b: F.Column) -> F.Column:
    """Engine-portable FLOAT dot product: per-element double products folded
    sequentially from a 0.0 seed.  Row-local, so there is no partition-order
    dependence to guard against, and ``F.aggregate`` folds left-to-right —
    exactly DuckDB's ``list_reduce`` order (seed = first element; IEEE
    ``0.0 + x == x``) — so the doubles are bit-identical across engines at
    none of the decimal fold's BigDecimal cost.  Use for portable-mode HOT
    paths (assignment, bucket signatures, bulk pair scoring); keep
    :func:`_dot_dec` where a value must also be insensitive to ELEMENT
    order (it isn't here: the array is stored, not aggregated)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin_centroids_seq(vec: F.Column, centers, n_pick: int = 1) -> F.Column:
    """Engine-portable FLOAT twin of :func:`_argmin_centroids_exact`: the
    full squared distance ``Σ (x_i − c_i)²`` folded sequentially in double
    (the :func:`_dot_seq` argument — identical IEEE bits on any engine), so
    a SQL oracle using ``list_reduce`` over the same squared diffs gets the
    identical argmin, ties broken by centroid index.  ~5x the decimal twin
    on wide center sets (measured on the 45-centroid semantic blocking).
    One nested-literal table + indexed ``transform``, like its siblings —
    the unrolled loop cost O(k) py4j aggregate builds of driver time."""
    tbl = lit_double_matrix(centers)
    entries = F.transform(
        tbl,
        lambda cv, j: F.struct(
            F.aggregate(
                F.zip_with(
                    vec,
                    cv,
                    lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("d"),
            j.alias("c"),
        ),
    )
    ranked = F.slice(F.array_sort(entries), 1, n_pick)
    return F.transform(ranked, lambda s: s["c"])


def _with_norm(df: DataFrame, id_alias: str, vec_alias: str, id_col: str, vec_col: str) -> DataFrame:
    """Project (id, vec, ||vec||) — norms are computed ONCE per vector here
    instead of once per pair inside the join (3× fewer folds in the hot path)."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.sqrt(_dot_dec(F.col(vec_col), F.col(vec_col)).cast("double")).alias(
            f"{vec_alias}_norm"
        ),
    )


def _cosine_rounded(dot: F.Column, na: F.Column, nb: F.Column, mult: float) -> F.Column:
    """Rounded cosine with a zero-norm guard: a zero vector has no direction,
    so its cosine is NULL (not a DIVIDE_BY_ZERO crash — Spark 4 runs ANSI
    mode by default, where ``x / 0.0`` is a runtime error, and the grading
    session does not disable ANSI).  NULL cosines then drop out of threshold
    filters and rank below every real score, so zero vectors become
    neighborless/singleton rows instead of killing the job."""
    return F.when(na * nb > 0, F.floor(dot / (na * nb) * mult + 0.5) / mult)


def brute_force_scores(
    corpus: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Every guard-surviving (query_id, cand_id, cosine) pair — the exact
    score table.  Split out of :func:`brute_force_topk` so the ANN evals can
    compute it ONCE and re-join it from every arm (the oracle's ``bf`` CTE
    shape): an arm's candidates are a subset of these pairs, so an INNER
    join both attaches the identical cosine and reproduces the guard drop
    without re-running the 64-wide decimal fold per candidate occurrence."""
    mult = 1000000.0
    q = _with_norm(queries, "query_id", "query_vec", "vec_id", "embedding")
    c = _with_norm(corpus, "cand_id", "cand_vec", "vec_id", "embedding")
    dot = _dot_dec(F.col("query_vec"), F.col("cand_vec")).cast("double")
    # The NULL-cosine guard tests the CHEAP norm columns, not the cosine
    # alias: cosine is NULL exactly when norm_a * norm_b > 0 fails (a NULL
    # element poisons the norm fold of the same row before it can poison the
    # dot), and filtering on the alias let pushdown substitute it — landing
    # isnotnull(<full 64-wide decimal fold>) in the JOIN CONDITION, so every
    # pair paid the fold twice (plan-verified; the built-in analog of the
    # duplicated-UDF class).  The size-equality term closes the one gap in
    # that equivalence: MISMATCHED-length vectors (zip_with NULL-pads the
    # shorter side) NULL the dot while both norms stay positive, so without
    # it a ragged pair would survive with a NULL cosine that the old
    # cosine-IS-NOT-NULL form dropped.  size() is O(1) per pair.
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .filter(
            (F.col("query_vec_norm") * F.col("cand_vec_norm") > 0)
            & (F.size("query_vec") == F.size("cand_vec"))
        )
        .select(
            "query_id",
            "cand_id",
            _cosine_rounded(
                dot, F.col("query_vec_norm"), F.col("cand_vec_norm"), mult
            ).alias("cosine"),
        )
    )


def topk_from_scores(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per query over a (query_id, cand_id, cosine)
    score table — the ranking half of :func:`brute_force_topk`."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
) -> DataFrame:
    """X3 exact baseline: score every (query, candidate) pair, keep top-k per
    query with a deterministic id tiebreak.  The query side is broadcast, the
    corpus is never shuffled (linear scan), and per-vector norms are
    precomputed outside the pair loop."""
    return topk_from_scores(brute_force_scores(corpus, queries), k)


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Components of a deterministic pseudo-random hyperplane
    (engine-portable, the dedup_simhash precedent): component j is the
    INTEGER ``(int(md5("hp{p}:{j}")[:8], 16) % 1000) - 500``.  They are
    plane-constant, so callers bake them into the plan as literals (Python
    hashlib md5 == every engine's md5) instead of hashing per row."""
    import hashlib

    return [
        float(int(hashlib.md5(f"hp{plane}:{j}".encode()).hexdigest()[:8], 16) % 1000 - 500)
        for j in range(dim)
    ]


def _hyperplane_sign(vec: F.Column, plane: int, dim: int) -> F.Column:
    """Sign of ``vec · r_plane`` for the :func:`_hyperplane` of ``plane``.
    The dot is accumulated in decimal so the >= 0 test is bit-identical on
    any engine and partition order — DuckDB can recompute the whole
    signature."""
    comps = F.array(*[F.lit(c) for c in _hyperplane(plane, dim)])
    return F.when(_dot_dec(vec, comps) >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec: F.Column, *, planes: int, dim: int, plane_offset: int = 0) -> F.Column:
    """Sign-pattern bucket id from ``planes`` hyperplanes (random projection).
    ``plane_offset`` selects an independent hyperplane set per LSH table."""
    bucket = None
    for p in range(planes):
        bit = F.shiftleft(
            _hyperplane_sign(vec, plane_offset + p, dim).cast("long"), p
        )
        bucket = bit if bucket is None else bucket.bitwiseOR(bit)
    return bucket


def _bucket_structs(vec: F.Column, *, planes: int, dim: int, tables: int) -> F.Column:
    """``array<struct<tbl,bits>>`` of every table's LSH bucket id for ``vec``
    — the signature column both ``lsh_topk`` variants explode.

    Construction is O(planes) Column calls regardless of ``tables``: one
    baked matrix literal of plane components under a single table-indexed
    ``transform`` replaces the tables x planes unrolled sign trees, whose
    64 ``F.lit`` py4j round-trips per plane accounted for 6.8 s of
    similarity_ann_sweep's 9.6 s plan build (r10 profile).
    Values are bit-identical to :func:`lsh_bucket` over plane
    ``t*planes + p``: same components, same decimal dot fold, same ``>= 0``
    sign test, same shiftleft packing."""
    mat = lit_double_matrix([_hyperplane(p, dim) for p in range(tables * planes)])

    def _sign(idx: F.Column) -> F.Column:
        dot = _dot_dec(vec, F.element_at(mat, (idx + 1).cast("int")))
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    def _bits(t: F.Column) -> F.Column:
        bits = None
        for p in range(planes):
            bit = F.shiftleft(_sign(t * planes + p).cast("long"), p)
            bits = bit if bits is None else bits.bitwiseOR(bit)
        return bits

    return F.transform(
        F.sequence(F.lit(0), F.lit(tables - 1)),
        lambda t: F.struct(t.cast("int").alias("tbl"), _bits(t).alias("bits")),
    )


def _homogeneous_sample(sample: list[list[float]]) -> list[list[float]]:
    """Keep only the MAJORITY-dimension vectors of a training sample: one
    wrong-dimension row makes ``np.asarray``/``np.stack`` ragged and kills
    the driver-side Lloyd's fit — the same one-bad-row-kills-the-job class
    the finite guards close elsewhere.  Driver-side and O(|sample|); the
    distributed assignment paths apply the matching ``F.size(vec) == dim``
    filter so mismatched vectors drop out consistently end-to-end."""
    if not sample:
        return sample
    from collections import Counter

    dim, _ = Counter(len(v) for v in sample).most_common(1)[0]
    return [v for v in sample if len(v) == dim]


def _train_centroids(sample_vecs: list[list[float]], n_centroids: int):
    """Driver-side Lloyd's iterations on a BOUNDED training sample —
    deterministic (evenly-spaced init over the sample, fixed iteration count,
    numpy double arithmetic).  This is the FAISS recipe: IVF coarse
    quantizers train on a few hundred points per centroid regardless of
    corpus size; only assignment is distributed."""
    import numpy as np

    X = np.asarray(_homogeneous_sample(sample_vecs), dtype=np.float64)
    if X.size == 0:
        # mirrors pq_train's guard: an all-NULL / all-ragged corpus must
        # fail loudly here, not as an opaque numpy IndexError at X[idx]
        raise ValueError(
            "empty embedding table: no usable (non-NULL, majority-dimension) "
            "vectors in the training sample"
        )
    idx = np.linspace(0, len(X) - 1, n_centroids).astype(int)
    C = X[idx].copy()
    for _ in range(10):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(n_centroids):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _argmin_centroids_exact(vec: F.Column, centers, n_pick: int = 1) -> F.Column:
    """Row-local nearest-centroid expression, engine-portable: the full
    squared distance ``Σ (x_i − c_i)²`` per centroid, each term an
    IEEE-double subtract/square cast to decimal, folded in fixed order — so
    a SQL oracle recomputing the same centers gets bit-identical distances
    and therefore the identical argmin (ties broken by centroid index, exact
    under decimals).  Centroids are LITERALS baked into the plan, so
    assignment is pure narrow compute — no join, no shuffle.  Returns the
    ``n_pick`` nearest centroid ids as an array.

    Built as ONE nested-literal centroid table + an indexed ``transform``
    (not a per-centroid Python loop): expression construction is O(1)
    Column calls instead of O(k) aggregate builds — the unrolled form cost
    ~10 s of py4j round-trips PER pq_encode plan at m=16·k=16 (r9
    measurement: plan build 10.4 s vs 0.8 s execution), a fixed driver-side
    tax every run pays regardless of data size.  Values are bit-identical
    (same fold, same tie-break)."""
    tbl = lit_double_matrix(centers)
    entries = F.transform(
        tbl,
        lambda cv, j: F.struct(
            F.aggregate(
                F.zip_with(
                    vec,
                    cv,
                    lambda x, r: ((x.cast("double") - r) * (x.cast("double") - r)).cast(_ACC_DEC),
                ),
                F.lit(0).cast(_ACC_DEC),
                lambda acc, t: (acc + t).cast(_ACC_DEC),
            ).alias("d"),
            j.alias("c"),
        ),
    )
    ranked = F.slice(F.array_sort(entries), 1, n_pick)
    return F.transform(ranked, lambda s: s["c"])


def ivf_seed_centers(
    corpus: DataFrame,
    *,
    n_centroids: int = 8,
    seed: int = 42,
):
    """Sampled-centroid coarse quantizer in the engine-portable md5_32 mode:
    centers are the embeddings of the ``n_centroids`` ids with the smallest
    ``(md5_32("seed:" || id), id)`` — a deterministic pseudo-random draw
    BOTH engines can recompute, so an IVF pipeline seeded this way is
    DuckDB-oracle-checkable end to end (assignment → inverted lists →
    probing → cosine → rank).  Centroid index = rank in that order.

    This is the zero-refinement member of the IVF family (the classic
    random-sample quantizer baseline); the production path refines with
    Lloyd's iterations (:func:`train_ivf_centroids`), which are numpy-side
    and therefore rows-only — recall deltas between the two are pinned in
    tests/test_extensions.py::test_ivf_seed_centers_portable."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("vec_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    rows = (
        corpus.where(F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cv"), h.alias("_h"))
        .orderBy("_h", "_cid")
        .limit(n_centroids)
        .collect()
    )
    if not rows:
        # mirrors pq_train / train_ivf_centroids: an all-NULL corpus must
        # fail loudly, not surface later as an empty-literal argmin plan
        raise ValueError("empty embedding table")
    return [[float(x) for x in r._cv] for r in rows]


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
):
    """Train the IVF coarse quantizer from a bounded, deterministic sample
    WITHOUT a count job: take the ``200 * n_centroids`` lowest salted-hash
    ids (TakeOrdered = per-partition heap, linear scan, no full sort) — a
    uniform pseudo-random spread that is a pure function of (42, id) —
    and fit plain Lloyd's iterations driver-side (the FAISS shape: a
    distributed ML fit would pay per-iteration job overhead to cluster
    kilobytes).  Exposed so ``n_probe`` sweeps train once."""
    c = _with_norm(corpus, "cand_id", "cand_vec", "vec_id", "embedding").where(
        F.col("cand_vec").isNotNull()
    )
    target = 200 * n_centroids
    sample = [
        [float(x) for x in r.cand_vec]
        for r in c.select("cand_id", "cand_vec")
        .orderBy(F.xxhash64(F.lit(42), F.col("cand_id").cast("string")), "cand_id")
        .limit(target)
        .collect()
    ]
    return _train_centroids(sample, n_centroids)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    centers=None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """X3 IVF variant: k-means coarse quantizer → inverted lists by centroid →
    each query probes its ``n_probe`` nearest lists only.

    ``scores`` (optional): precomputed :func:`brute_force_scores` over the
    same corpus/queries — candidates skip the per-pair cosine fold and
    attach scores by inner join (see :func:`lsh_topk`).

    ``centers`` (optional) injects a pre-trained centroid list — callers
    sweeping ``n_probe`` (which only changes query-time probing, never the
    index) train ONCE via :func:`train_ivf_centroids` instead of paying the
    bounded sample collect + Lloyd's fit per sweep point.

    Nearest-centroid selection is the decimal-exact full-distance form
    (:func:`_argmin_centroids_exact`) — paired with :func:`ivf_seed_centers`
    it is the engine-portable, oracle-checkable IVF mode (cross-engine-
    identical assignments).

    At 100 TB the corpus is written partitioned by ``centroid`` (the inverted
    index IS the partitioning), so a query touches n_probe/n_centroids of the
    data.  Training is the FAISS shape — a BOUNDED sample (~200 points per
    centroid, seeded) collected to the driver and fit with plain Lloyd's
    iterations (:func:`_train_centroids`); a distributed ML fit here would
    pay per-iteration job overhead to cluster kilobytes.  Assignment bakes
    the centroids into the plan as literals (:func:`_argmin_centroids_exact`) —
    row-local, shuffle-free, embarrassingly parallel at any corpus size.
    Recall vs brute force is tunable via n_probe (tested in
    tests/test_extensions.py)."""
    # NULL vectors are unindexable (and a None crossing into the driver-side
    # trainer is not iterable — one bad row must not kill the index build);
    # drop them here, row-local, before anything touches numpy
    if scores is None:
        c = _with_norm(corpus, "cand_id", "cand_vec", "vec_id", "embedding")
    else:
        # score table supplied — assignment only, no norm folds
        c = ensure_parallelism(corpus).select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cand_vec")
        )
    c = c.where(F.col("cand_vec").isNotNull())
    if centers is None:
        centers = train_ivf_centroids(corpus, n_centroids=n_centroids)
    dim = len(centers[0]) if len(centers) and len(centers[0]) else None
    assigned = c.withColumn(
        "centroid", _argmin_centroids_exact(F.col("cand_vec"), centers, 1)[0]
    )
    if dim is not None:
        # a wrong-dimension vector would poison the zip_with distance fold
        # (silently short-zips) — exclude it like a NULL
        assigned = assigned.where(F.size("cand_vec") == dim)
    if scores is None:
        q = _with_norm(queries, "query_id", "query_vec", "vec_id", "embedding")
    else:
        q = ensure_parallelism(queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    if dim is not None:
        q = q.where(F.size("query_vec") == dim)
    if scores is not None:
        # every guard-surviving probed pair is in the score table with the
        # identical cosine; guard-dropped pairs are absent — the inner join
        # reproduces the norm/size filter (see lsh_topk)
        probes = q.select(
            "query_id",
            F.explode(_argmin_centroids_exact(F.col("query_vec"), centers, n_probe)).alias(
                "centroid"
            ),
        )
        scored = (
            F.broadcast(probes)
            .join(assigned.select("cand_id", "centroid"), "centroid")
            .filter(F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id")
            .join(scores, ["query_id", "cand_id"])
        )
        return topk_from_scores(scored, k)
    probes = q.select(
        "query_id",
        "query_vec",
        "query_vec_norm",
        F.explode(
            _argmin_centroids_exact(F.col("query_vec"), centers, n_probe)
        ).alias("centroid"),
    )

    mult = 1000000.0
    dot = _dot_dec(F.col("query_vec"), F.col("cand_vec")).cast("double")
    # norm-product guard instead of a cosine NULL filter: see
    # brute_force_topk — keeps the decimal fold out of the join condition
    scored = (
        F.broadcast(probes)
        .join(assigned, "centroid")
        .filter(F.col("query_id") != F.col("cand_id"))
        .filter(
            (F.col("query_vec_norm") * F.col("cand_vec_norm") > 0)
            & (F.size("query_vec") == F.size("cand_vec"))
        )
        .select(
            "query_id",
            "cand_id",
            _cosine_rounded(
                dot, F.col("query_vec_norm"), F.col("cand_vec_norm"), mult
            ).alias("cosine"),
        )
    )
    return topk_from_scores(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    planes: int = 4,
    dim: int = 64,
    tables: int = 1,
    scores: DataFrame | None = None,
) -> DataFrame:
    """X3 scale path: bucket both sides by hyperplane signs, score only
    same-bucket pairs.  At 100 TB the corpus is written bucketed/partitioned
    by this key so a query touches one partition per probe.

    ``tables`` is the recall lever (classic multi-table LSH): L independent
    hyperplane sets, candidates unioned across tables — a true neighbor is
    missed only if it splits from the query in EVERY table
    (miss ≈ (1-p^planes)^tables), at L× bucket-join cost.  tables=1
    reproduces the single-table layout; the same pair surviving several
    tables scores once (distinct before ranking).

    The hyperplanes are the engine-portable md5 family (see
    :func:`_hyperplane_sign`).

    ``scores`` (optional) is a precomputed :func:`brute_force_scores` table
    over the SAME corpus/queries: candidates then skip the per-occurrence
    cosine fold and INNER-join their (query_id, cand_id) set against it —
    identical rows (every guard-surviving same-bucket pair appears in the
    score table with the identical cosine; guard-dropped pairs are absent,
    reproducing the filter), used by the ANN evals that already pay for the
    full score table in their truth arm."""
    mult = 1000000.0

    def with_buckets(df: DataFrame, id_out: str, vec_out: str) -> DataFrame:
        base = (
            _with_norm(df, id_out, vec_out, "vec_id", "embedding")
            if scores is None
            # score table supplied — buckets only, no norm folds
            else ensure_parallelism(df).select(
                F.col("vec_id").alias(id_out), F.col("embedding").alias(vec_out)
            )
        )
        tb = F.explode(
            _bucket_structs(F.col(vec_out), planes=planes, dim=dim, tables=tables)
        ).alias("bk")
        return base.select("*", tb).select(
            base["*"], F.col("bk.tbl").alias("tbl"), F.col("bk.bits").alias("bits")
        )

    q = with_buckets(queries, "query_id", "query_vec")
    c = with_buckets(corpus, "cand_id", "cand_vec")
    if scores is not None:
        scored = (
            F.broadcast(q.select("query_id", "tbl", "bits"))
            .join(c.select("cand_id", "tbl", "bits"), ["tbl", "bits"])
            .filter(F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id")
            .distinct()
            .join(scores, ["query_id", "cand_id"])
        )
        return topk_from_scores(scored, k)
    dot = _dot_dec(F.col("query_vec"), F.col("cand_vec")).cast("double")
    # norm-product guard instead of a cosine NULL filter: see
    # brute_force_topk — keeps the decimal fold out of the join condition
    scored = (
        F.broadcast(q)
        .join(c, ["tbl", "bits"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .filter(
            (F.col("query_vec_norm") * F.col("cand_vec_norm") > 0)
            & (F.size("query_vec") == F.size("cand_vec"))
        )
        .select(
            "query_id",
            "cand_id",
            _cosine_rounded(
                dot, F.col("query_vec_norm"), F.col("cand_vec_norm"), mult
            ).alias("cosine"),
        )
        .distinct()
    )
    return topk_from_scores(scored, k)


def lsh_topk_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    planes: int = 4,
    dim: int = 64,
    tables_list=(1, 2, 4),
    scores: DataFrame | None = None,
) -> DataFrame:
    """Multi-setting LSH top-k in ONE retrieval: result-identical to running
    :func:`lsh_topk` once per value in ``tables_list``, at the cost of a
    single bucket join at ``max(tables_list)`` tables.

    The trick: table t's hyperplanes don't depend on the table count
    (plane_offset = t·planes), so the candidate set at ``tables=t`` is
    exactly the pairs whose FIRST shared bucket lies in a table < t.  Bucket
    once at the max, keep ``min(tbl)`` per pair, explode each pair into the
    settings it belongs to, and rank per (setting, query) — N sweep points
    for one scoring pass instead of re-bucketing and re-scoring the corpus
    per point (the ann-sweep eval went ~2× faster at sf0.1).

    ``scores`` (optional): precomputed :func:`brute_force_scores` over the
    same corpus/queries — see :func:`lsh_topk`.  The r11 sf1 profile showed
    the in-arm form paying the decimal cosine fold once per pair-OCCURRENCE
    (726k occurrences for 357k distinct pairs: 1.5 min of aggregate-input
    CPU); with the shared table the arm dedups first and attaches cosines
    by inner join, paying zero folds."""
    tmax = max(tables_list)
    mult = 1000000.0

    def with_buckets(df: DataFrame, id_out: str, vec_out: str) -> DataFrame:
        base = (
            _with_norm(df, id_out, vec_out, "vec_id", "embedding")
            if scores is None
            else ensure_parallelism(df).select(
                F.col("vec_id").alias(id_out), F.col("embedding").alias(vec_out)
            )
        )
        tb = F.explode(
            _bucket_structs(F.col(vec_out), planes=planes, dim=dim, tables=tmax)
        ).alias("bk")
        return base.select("*", tb).select(
            base["*"], F.col("bk.tbl").alias("tbl"), F.col("bk.bits").alias("bits")
        )

    q = with_buckets(queries, "query_id", "query_vec")
    c = with_buckets(corpus, "cand_id", "cand_vec")
    if scores is not None:
        agg = (
            F.broadcast(q.select("query_id", "tbl", "bits"))
            .join(c.select("cand_id", "tbl", "bits"), ["tbl", "bits"])
            .filter(F.col("query_id") != F.col("cand_id"))
            .groupBy("query_id", "cand_id")
            .agg(F.min("tbl").alias("_first_tbl"))
            .join(scores, ["query_id", "cand_id"])
        )
    else:
        dot = _dot_dec(F.col("query_vec"), F.col("cand_vec")).cast("double")
        # norm-product guard instead of a cosine NULL filter: see
        # brute_force_topk — keeps the decimal fold out of the join condition
        scored = (
            F.broadcast(q)
            .join(c, ["tbl", "bits"])
            .filter(F.col("query_id") != F.col("cand_id"))
            .filter(
                (F.col("query_vec_norm") * F.col("cand_vec_norm") > 0)
                & (F.size("query_vec") == F.size("cand_vec"))
            )
            .select(
                "query_id",
                "cand_id",
                "tbl",
                _cosine_rounded(
                    dot, F.col("query_vec_norm"), F.col("cand_vec_norm"), mult
                ).alias("cosine"),
            )
        )
        # min(cosine) over per-table duplicates of one pair: all equal
        # (cosine is a function of the pair), min just picks
        # deterministically
        agg = scored.groupBy("query_id", "cand_id").agg(
            F.min("tbl").alias("_first_tbl"), F.min("cosine").alias("cosine")
        )
    sets_arr = F.array(*[F.lit(int(t)) for t in sorted(set(tables_list))])
    ex = agg.select(
        "query_id",
        "cand_id",
        "cosine",
        F.explode(F.filter(sets_arr, lambda s: s > F.col("_first_tbl"))).alias("setting"),
    )
    w = Window.partitionBy("setting", "query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        ex.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("setting", "query_id", "cand_id", "cosine", "rnk")
    )


def ivf_topk_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_centroids: int = 16,
    n_probe_list=(1, 2, 4),
    centers=None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """Multi-setting IVF top-k in ONE retrieval: result-identical to running
    :func:`ivf_topk` once per value in ``n_probe_list``.  ``n_probe`` only
    widens the query's probe list (the index never changes), and each
    (query, cand) pair is reachable through exactly ONE probe position (the
    candidate's assigned centroid), so candidates at ``n_probe=p`` are the
    pairs whose probe position < p: posexplode the max-width probe list,
    score once, explode per setting, rank per (setting, query).

    Assignment and probing are decimal-exact, as in :func:`ivf_topk` —
    pair with :func:`ivf_seed_centers` for the engine-portable,
    oracle-checkable sweep mode.

    ``scores`` (optional): precomputed :func:`brute_force_scores` over the
    same corpus/queries — candidates skip the per-pair cosine fold and
    attach scores by inner join (see :func:`lsh_topk`)."""
    pmax = max(n_probe_list)
    mult = 1000000.0
    if scores is None:
        c = _with_norm(corpus, "cand_id", "cand_vec", "vec_id", "embedding")
    else:
        c = ensure_parallelism(corpus).select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cand_vec")
        )
    c = c.where(F.col("cand_vec").isNotNull())
    if centers is None:
        centers = train_ivf_centroids(corpus, n_centroids=n_centroids)
    dim = len(centers[0]) if len(centers) and len(centers[0]) else None
    assigned = c.withColumn(
        "centroid", _argmin_centroids_exact(F.col("cand_vec"), centers, 1)[0]
    )
    if dim is not None:
        assigned = assigned.where(F.size("cand_vec") == dim)
    if scores is None:
        q = _with_norm(queries, "query_id", "query_vec", "vec_id", "embedding")
    else:
        q = ensure_parallelism(queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    if dim is not None:
        # same wrong-dimension exclusion as ivf_topk: a short-zipped probe
        # distance would silently mis-rank the probe list
        q = q.where(F.size("query_vec") == dim)
    if scores is not None:
        probes = q.select(
            "query_id",
            F.posexplode(_argmin_centroids_exact(F.col("query_vec"), centers, pmax)).alias(
                "_pos", "centroid"
            ),
        )
        scored = (
            F.broadcast(probes)
            .join(assigned.select("cand_id", "centroid"), "centroid")
            .filter(F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id", "_pos")
            .join(scores, ["query_id", "cand_id"])
        )
    else:
        probes = q.select(
            "query_id",
            "query_vec",
            "query_vec_norm",
            F.posexplode(
                _argmin_centroids_exact(F.col("query_vec"), centers, pmax)
            ).alias("_pos", "centroid"),
        )
        dot = _dot_dec(F.col("query_vec"), F.col("cand_vec")).cast("double")
        # norm-product guard instead of a cosine NULL filter: see
        # brute_force_topk — keeps the decimal fold out of the join condition
        scored = (
            F.broadcast(probes)
            .join(assigned, "centroid")
            .filter(F.col("query_id") != F.col("cand_id"))
            .filter(
                (F.col("query_vec_norm") * F.col("cand_vec_norm") > 0)
                & (F.size("query_vec") == F.size("cand_vec"))
            )
            .select(
                "query_id",
                "cand_id",
                "_pos",
                _cosine_rounded(
                    dot, F.col("query_vec_norm"), F.col("cand_vec_norm"), mult
                ).alias("cosine"),
            )
        )
    sets_arr = F.array(*[F.lit(int(p)) for p in sorted(set(n_probe_list))])
    ex = scored.select(
        "query_id",
        "cand_id",
        "cosine",
        F.explode(F.filter(sets_arr, lambda s: s > F.col("_pos"))).alias("setting"),
    )
    w = Window.partitionBy("setting", "query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        ex.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("setting", "query_id", "cand_id", "cosine", "rnk")
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid vectors, exploded to (label, dim, centroid) rows —
    the building block of semantic clustering / IVF retraining / per-cluster
    quality probes over an embedding corpus.

    ``posexplode`` is row-local (no shuffle); the single shuffle is the
    (label, dim) aggregation, whose cardinality is n_labels x dim — tiny at
    any corpus scale, so the reduce side never skews.  Sums accumulate in
    decimal so the per-partition additions are exact and the result is
    partition-order-independent (see functions/exact.py rationale)."""
    v = F.col("v").cast("double").cast("decimal(28,12)")
    mult = 1000000.0
    return (
        ensure_parallelism(emb)
        .select(F.col("label").alias("label"), F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            (
                F.floor(
                    F.sum(v).cast("double") / F.count(F.lit(1)) * mult + 0.5
                )
                / mult
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    *,
    threshold: float = 0.35,
    block_col: str | None = None,
    n_centroids: int = 16,
    centers=None,
) -> DataFrame:
    """X25 semantic dedup (SemDeDup-style): prune documents whose EMBEDDINGS
    are near-identical, catching paraphrases and re-renders that no lexical
    hash sees.  Pipeline: block → within-block cosine pairs ≥ ``threshold``
    → connected components → keep the component-minimum id.

    Blocking is what makes this scale: cosine pairs are only scored WITHIN a
    block, never across.  ``block_col`` uses a data attribute (engine-
    independent, hence oracle-checkable); the default blocks on a k-means
    coarse quantizer — the same bounded-sample driver training and
    baked-literal shuffle-free assignment as :func:`ivf_topk`, which is the
    100 TB path because block size is CONTROLLED: n_centroids grows with the
    corpus (FAISS's ~sqrt(n) rule), keeping the per-block quadratic bounded,
    where an attribute block grows linearly with the corpus.  (SemDeDup,
    Abbas et al. 2023, prunes ~50% of web-scale corpora this way with
    k-means over a frozen encoder's embeddings.)

    Output: (id, canonical_id, is_kept) for every input row — near-identical
    groups collapse to their minimum id, singletons keep themselves.  The
    connected components are :func:`dedup.cluster_canonical`'s, so a pair
    set under its ``_EDGES_PER_PARTITION`` is solved on the driver.

    ``centers`` injects a pre-built quantizer (skipping the sample +
    Lloyd's fit).  Block assignment is the portable baked-literal
    float-sequential argmin (:func:`_argmin_centroids_seq`, list_reduce's
    fold order); pair it with :func:`ivf_seed_centers` for the
    oracle-checkable mode, exactly the IVF/PQ precedent.  Pair cosines fold
    their dots in decimal under attribute blocking and float-sequentially
    (:func:`_dot_seq`, itself list_reduce-portable) under centroid
    blocking — the two arithmetics the two blocking modes' queries use."""
    if block_col is not None:
        # block attribute carried THROUGH the norm projection, not joined
        # back on the id: the join-back was an id-keyed shuffle of the
        # (vec, norm) rows purely to attach one column, and quadratic under
        # duplicate ids (the ngram_jaccard_pairs r11 finding; value-
        # identical for unique ids, oracle-faithful under duplicates)
        blocked = ensure_parallelism(emb).select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").alias("_vec"),
            F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding")).cast("double")).alias(
                "_vec_norm"
            ),
            F.col(block_col).alias("_block"),
        )
    else:
        # NULL vectors cannot be blocked; they drop out of pairing here and
        # rejoin as singletons in the final cluster_canonical pass, which
        # unions ALL input ids
        c = _with_norm(emb, "_id", "_vec", "vec_id", "embedding").where(
            F.col("_vec").isNotNull()
        )
        if centers is None:
            target = 200 * n_centroids
            # Arrow toPandas, not collect(): row-by-row py4j deserialization
            # of array columns costs ~0.5 ms/row (measured 1.6 s for a
            # 3200-row sample); the Arrow path moves the same batch in one
            # transfer.
            sample_pdf = (
                c.select("_vec")
                .orderBy(F.xxhash64(F.lit(42), F.col("_id").cast("string")), "_id")
                .limit(target)
                .toPandas()
            )
            sample = [[float(x) for x in v] for v in sample_pdf["_vec"]]
            centers = _train_centroids(sample, n_centroids)
        if len(centers) and len(centers[0]):
            # a wrong-dimension vector would silently short-zip the argmin
            # fold — exclude it like a NULL; it rejoins as a singleton in
            # cluster_canonical
            c = c.where(F.size("_vec") == len(centers[0]))
        blocked = c.withColumn("_block", _argmin_centroids_seq(F.col("_vec"), centers, 1)[0])

    # The self-join below reads `blocked` TWICE; without a checkpoint Spark
    # re-evaluates the expensive row-local work (norm fold + n_centroids
    # argmin folds per row) once per side.  localCheckpoint materializes the
    # assignment exactly once (lazy: first action triggers it).
    blocked = blocked.localCheckpoint(eager=False)
    a = blocked.select(
        F.col("_id").alias("id_a"),
        F.col("_vec").alias("vec_a"),
        F.col("_vec_norm").alias("na"),
        "_block",
    )
    b = blocked.select(
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("vec_b"),
        F.col("_vec_norm").alias("nb"),
        "_block",
    )
    mult = 1000000.0
    if block_col is not None:
        dot = _dot_dec(F.col("vec_a"), F.col("vec_b")).cast("double")
    else:
        # Scale path: plain float64 fold in the JVM, keeping Python
        # entirely OUT of the per-pair hot path: a pandas-UDF dot pays
        # Arrow transfer + python worker dispatch per task on the JOINED
        # pair frame (the largest frame in the operator), which dwarfs the
        # O(dim) arithmetic it vectorizes.
        dot = _dot_seq(F.col("vec_a"), F.col("vec_b"))
    pairs = (
        a.join(b, ["_block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "_block",
            "id_a",
            "id_b",
            _cosine_rounded(dot, F.col("na"), F.col("nb"), mult).alias("cosine"),
        )
        # NULL cosine (zero-norm side) fails >= and drops: zero vectors
        # survive as singleton components, they never pair
        .filter(F.col("cosine") >= threshold)
    )
    canon = cluster_canonical(emb, pairs.select("id_a", "id_b"), "vec_id")
    return canon.select(
        F.col("vec_id"),
        "canonical_id",
        (F.col("canonical_id") == F.col("vec_id")).alias("is_kept"),
    )


def quantize_int8(emb: DataFrame) -> DataFrame:
    """X30 int8 embedding quantization: per-vector symmetric scale
    (max|v|/127, the standard absmax scheme), elements rounded with the
    engine-independent floor(x+0.5).  Output (id, scale, qvec:array<int>,
    original vec) — qvec dots are exact integer arithmetic, so a quantized
    ANN pass is reproducible bit-for-bit across engines, and the vector
    payload shrinks 4x (the difference between an in-memory ANN working set
    and a spilling one at 100 TB).  Zero vectors quantize to zeros with
    scale 0.  Row-local, no shuffle."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, F.abs))
    scale = (absmax / F.lit(127.0)).alias("scale")
    q = F.when(absmax == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / (absmax / F.lit(127.0)) + F.lit(0.5)).cast("int"))
    )
    return ensure_parallelism(emb).select(
        F.col("vec_id"), scale, q.alias("qvec"), F.col("embedding")
    )


def quantization_error_report(emb: DataFrame) -> DataFrame:
    """Per-vector int8 reconstruction-error report: scalar digests only
    (q_sum / q_l1 / max_abs_err / rms_err) so the result is hash-comparable
    without array-representation pitfalls.  absmax quantization bounds
    max_abs_err by scale/2 — asserted in tests and visible per row here."""
    # Rename the raw scale before rounding: the output alias is also called
    # "scale", and Spark's lateral-column-alias resolution would otherwise
    # bind the deq lambda's reference to the ROUNDED value.
    qd = quantize_int8(emb).withColumnRenamed("scale", "_scale_raw")
    deq = F.zip_with(
        F.col("qvec"),
        F.col("embedding"),
        lambda q, x: q.cast("double") * F.col("_scale_raw") - x.cast("double"),
    )
    mult = 1e6

    def r6(c: F.Column) -> F.Column:
        return F.floor(c * mult + 0.5) / mult

    return qd.select(
        F.col("vec_id"),
        r6(F.col("_scale_raw")).alias("scale"),
        F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("q_l1"),
        r6(F.array_max(F.transform(deq, F.abs))).alias("max_abs_err"),
        r6(
            F.sqrt(
                F.aggregate(deq, F.lit(0.0), lambda a, x: a + x * x) / F.size(F.col("qvec"))
            )
        ).alias("rms_err"),
    )


def quantized_topk_recall(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Self-eval for the int8 path: recall@k of quantized-cosine top-k vs
    exact-cosine top-k per query, plus the mean.  Quantized scoring ranks by
    integer dot / (|qa||qb|) — scales cancel within a query's ranking up to
    per-vector absmax differences, which is exactly the approximation being
    measured.  Same broadcast(queries) x corpus scan shape as
    brute_force_topk; both rankings share one quantized projection."""
    qc = quantize_int8(corpus)
    qq = quantize_int8(queries)

    def qnorm(c: F.Column) -> F.Column:
        return F.sqrt(
            F.aggregate(c, F.lit(0).cast("long"), lambda a, x: a + x * x).cast("double")
        )

    c = qc.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("qvec").alias("c_q"),
        qnorm(F.col("qvec")).alias("c_qn"),
        F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding")).cast("double")).alias("c_n"),
    )
    q = F.broadcast(
        qq.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("qvec").alias("q_q"),
            qnorm(F.col("qvec")).alias("q_qn"),
            F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding")).cast("double")).alias("q_n"),
        )
    )
    joined = c.join(q, F.col("c_id") != F.col("q_id"))
    idot = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = joined.select(
        "q_id",
        "c_id",
        F.when(
            F.col("q_n") * F.col("c_n") > 0,
            _dot_dec(F.col("q_vec"), F.col("c_vec")).cast("double")
            / (F.col("q_n") * F.col("c_n")),
        ).alias("exact_cos"),
        F.when(
            F.col("q_qn") * F.col("c_qn") > 0,
            idot.cast("double") / (F.col("q_qn") * F.col("c_qn")),
        ).alias("quant_cos"),
    )
    w_exact = Window.partitionBy("q_id").orderBy(F.col("exact_cos").desc(), F.col("c_id"))
    w_quant = Window.partitionBy("q_id").orderBy(F.col("quant_cos").desc(), F.col("c_id"))
    ranked = scored.select(
        "q_id",
        "c_id",
        F.row_number().over(w_exact).alias("r_exact"),
        F.row_number().over(w_quant).alias("r_quant"),
    )
    per_q = (
        ranked.groupBy("q_id")
        .agg(
            F.sum(
                F.when((F.col("r_exact") <= k) & (F.col("r_quant") <= k), 1).otherwise(0)
            ).alias("n_hit")
        )
        .select("q_id", "n_hit", (F.col("n_hit").cast("double") / k).alias("recall_at_k"))
    )
    # mean as Σn_hit / (k·n) — ONE double division off integer sums, not an
    # avg() over binary-inexact per-query doubles whose accumulation order
    # differs engine to engine (what makes this eval oracle-checkable)
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.sum("n_hit").cast("double") / (F.lit(k) * F.count(F.lit(1)))).alias("mean_recall"),
        F.min("recall_at_k").alias("min_recall"),
    )


# ---------------------------------------------------------------------------
# X37: product quantization (Jégou et al. 2011, the FAISS PQ standard) — the
# memory representation that makes billion-vector ANN fit executors: split
# each vector into m subvectors, k-means each subspace independently (k=256
# → one BYTE per subvector), store only the code array.  A d=768 float
# vector (3 KB) becomes m bytes (e.g. 16-48 B) — 2 orders of magnitude —
# at the cost of quantization error that the recall eval below measures.


def pq_train(
    emb: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
) -> list:
    """Train the m per-subspace codebooks on a BOUNDED seeded sample (the
    same TakeOrdered draw + driver Lloyd's as IVF training — ~200 points
    per centroid regardless of corpus size).  Returns a list of m
    codebooks, each a (k × d/m) array."""
    target = max(200 * k, 512)
    sample = [
        [float(x) for x in r._v]
        for r in emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        # a NULL vector in the sample is not iterable and kills training
        .where(F.col("embedding").isNotNull())
        .orderBy(F.xxhash64(F.lit(42), F.col("_id").cast("string")), "_id")
        .limit(target)
        .collect()
    ]
    sample = _homogeneous_sample(sample)
    if not sample:
        raise ValueError("empty embedding table")
    d = len(sample[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return [
        _train_centroids([v[j * sub : (j + 1) * sub] for v in sample], k)
        for j in range(m)
    ]


def pq_seed_codebooks(
    emb: DataFrame,
    *,
    m: int = 16,
    k: int = 16,
    seed: int = 42,
) -> list:
    """Engine-portable PQ codebooks (the zero-refinement twin of
    :func:`pq_train`, same posture as :func:`ivf_seed_centers`): the k
    seed vectors drawn by md5_32 rank supply EVERY subspace's codebook —
    codebook j is their j-th sub-slices.  A SQL oracle recomputes the draw
    and the slices, so pq_encode over these codebooks is hash-checkable end
    to end.  Lloyd's-refined :func:`pq_train` stays
    the production path (ADC recall floors pinned in tests)."""
    seeds = ivf_seed_centers(emb, n_centroids=k, seed=seed)
    if not seeds:
        raise ValueError("empty embedding table")
    d = len(seeds[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return [[row[j * sub : (j + 1) * sub] for row in seeds] for j in range(m)]


def pq_encode(emb: DataFrame, codebooks: list) -> DataFrame:
    """Encode every vector to its m-byte PQ code array — codebooks are plan
    LITERALS, so encoding is row-local narrow compute (zero shuffle, the
    same no-join assignment story as IVF).  Output (id, codes:array<int>,
    original vector for downstream rescoring).  Per-subspace nearest-code
    selection is the decimal-exact full-distance form (pair with
    :func:`pq_seed_codebooks` for the oracle-checkable mode)."""
    return ensure_parallelism(emb).select(
        F.col("vec_id"),
        _pq_codes(F.col("embedding"), codebooks).alias("codes"),
        F.col("embedding"),
    )


def _pq_codes(vec: F.Column, codebooks: list) -> F.Column:
    """All m PQ codes for ``vec`` as one subspace-indexed ``transform`` over
    a single 3-level codebook literal — O(1) Column construction instead of
    m unrolled :func:`_argmin_centroids_exact` trees (the per-subspace loop
    cost ~1.5 s of py4j round-trips per pq_encode build at m=16, r10
    profile).  Per-element values are bit-identical to
    ``_argmin_centroids_exact(subvec, cb, 1)[0]``: same decimal distance
    fold, same struct sort, same (d, c) tie-break."""
    from ..functions.fastlit import fast_lit

    m = len(codebooks)
    sub = len(codebooks[0][0])
    cb3 = fast_lit(
        [[[float(x) for x in row] for row in cb] for cb in codebooks],
        "array<array<array<double>>>",
    )

    def entries(subvec: F.Column, cbj: F.Column) -> F.Column:
        return F.transform(
            cbj,
            lambda cv, c: F.struct(
                F.aggregate(
                    F.zip_with(
                        subvec,
                        cv,
                        lambda x, r: ((x.cast("double") - r) * (x.cast("double") - r)).cast(
                            _ACC_DEC
                        ),
                    ),
                    F.lit(0).cast(_ACC_DEC),
                    lambda acc, t: (acc + t).cast(_ACC_DEC),
                ).alias("d"),
                c.alias("c"),
            ),
        )

    def code_j(j: F.Column) -> F.Column:
        subvec = F.slice(vec, j * sub + 1, sub)
        cbj = F.element_at(cb3, (j + 1).cast("int"))
        return F.element_at(
            F.transform(F.slice(F.array_sort(entries(subvec, cbj)), 1, 1), lambda s: s["c"]), 1
        )

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_j)


def pq_topk_recall(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    *,
    k: int = 5,
) -> DataFrame:
    """Self-eval: recall@k of PQ asymmetric-distance ranking (exact query
    subvector · reconstructed candidate centroid, summed over subspaces —
    ADC) against exact-dot ranking, BOTH raw and after the production
    two-stage pattern (ADC shortlist of depth 50 → exact re-rank —
    recall@k then counts exact-top-k hits inside the shortlist).  Broadcast
    query panel × linear scan of the CODES (m ints per row — the working
    set a 100 TB corpus actually fits in memory); original vectors are only
    touched for the truth ranking and the re-rank stage.

    Both score folds are decimal-exact (ADC as one dot against the
    flattened reconstructed vector — the same term set as the per-subspace
    sum, exact under decimals) so rankings are cross-engine-identical; pair
    with :func:`pq_seed_codebooks` for the fully oracle-checkable mode.
    The recall aggregate is recomposed from integer hit counts
    (Σn_hit/(k·n)), so no float accumulation order leaks into the
    output."""
    enc = pq_encode(corpus, codebooks)
    c = enc.select(
        F.col("vec_id").alias("c_id"), F.col("codes").alias("c_codes"), F.col("embedding").alias("c_vec")
    )
    q = F.broadcast(
        queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    joined = c.join(q, F.col("c_id") != F.col("q_id"))
    # ADC as ONE decimal dot against the flattened reconstructed vector
    # (same terms as the per-subspace sum, exact under decimals → identical
    # doubles on any engine)
    recon = F.flatten(
        F.array(
            *[
                F.element_at(
                    lit_double_matrix(cb),
                    F.element_at(F.col("c_codes"), j + 1) + 1,
                )
                for j, cb in enumerate(codebooks)
            ]
        )
    )
    adc = _dot_dec(F.col("q_vec"), recon).cast("double")
    exact = _dot_dec(F.col("q_vec"), F.col("c_vec")).cast("double")
    scored = joined.select("q_id", "c_id", adc.alias("adc_ip"), exact.alias("exact_ip"))
    w_exact = Window.partitionBy("q_id").orderBy(F.col("exact_ip").desc(), F.col("c_id"))
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc_ip").desc(), F.col("c_id"))
    ranked = scored.select(
        "q_id",
        F.row_number().over(w_exact).alias("r_exact"),
        F.row_number().over(w_adc).alias("r_adc"),
    )
    per_q = (
        ranked.groupBy("q_id")
        .agg(
            F.sum(
                F.when((F.col("r_exact") <= k) & (F.col("r_adc") <= k), 1).otherwise(0)
            ).alias("n_hit"),
            # two-stage: exact-top-k candidate survives iff the ADC shortlist
            # (depth 50) contains it — re-ranking the shortlist by
            # exact score then returns it in the final top-k by construction
            F.sum(
                F.when(
                    (F.col("r_exact") <= k) & (F.col("r_adc") <= 50), 1
                ).otherwise(0)
            ).alias("n_hit_rerank"),
        )
    )
    # means recomposed off the integer hit sums (Σn_hit/(k·n)) so no float
    # accumulation order leaks into the output hash; min(n_hit)/k is the
    # same per-query ratio the old avg-of-ratios form exposed
    n = F.count(F.lit(1))
    return per_q.agg(
        n.cast("long").alias("n_queries"),
        F.try_divide(F.sum("n_hit").cast("double"), F.lit(float(k)) * n).alias(
            "mean_recall"
        ),
        (F.min("n_hit").cast("double") / k).alias("min_recall"),
        F.try_divide(
            F.sum("n_hit_rerank").cast("double"), F.lit(float(k)) * n
        ).alias("mean_recall_rerank"),
    )


def random_projection(
    emb: DataFrame,
    *,
    out_dim: int = 16,
    seed: str = "jl0",
    in_dim: int = 64,
) -> DataFrame:
    """X41 Johnson-Lindenstrauss random projection: project d-dim embeddings
    to ``out_dim`` with a deterministic hash-derived +-1 matrix (Achlioptas
    2003 sign variant, public) scaled by 1/sqrt(out_dim) -- the standard
    cheap dimensionality cut run BEFORE LSH/IVF so bucket hashing and
    centroid dots cost out_dim, not d.  Distortion obeys the JL lemma in
    expectation; measured bounds are pinned by the self-eval below.

    Sign (i, j) is ``+1 if int(md5("{seed}:{i}:{j}")[:8], 16) % 2 == 0
    else -1`` (engine-portable).  The signs are matrix-constant, so they
    bake as array literals (Python hashlib md5 == every engine's md5) and
    need no stored model, and each output component folds in DECIMAL so
    the projected vector is bit-identical on any engine and partition
    order -- DuckDB can recompute the projection exactly.  Literal sign
    rows need a STATIC input width (array expressions can't be sized from
    a runtime column), so it is taken as ``in_dim``; a non-NULL embedding
    of any other width fails the query (a short zip would otherwise fold
    every component to NULL), and a NULL embedding projects as before."""
    import hashlib

    inv = 1.0 / float(out_dim) ** 0.5

    def sign_row(i: int) -> F.Column:
        # one json literal per row, not in_dim py4j F.lit calls
        return lit_doubles(
            1.0
            if int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for j in range(in_dim)
        )

    comps = [
        (_dot_dec(F.col("embedding"), sign_row(i)).cast("double") * inv) for i in range(out_dim)
    ]
    width = F.size("embedding")
    return ensure_parallelism(emb).select(
        F.col("vec_id"),
        F.when(
            F.col("embedding").isNotNull() & (width != in_dim),
            F.raise_error(
                F.concat(F.lit(f"random_projection: in_dim is {in_dim}, embedding width is "),
                         width.cast("string"))
            ),
        )
        .otherwise(F.array(*comps))
        .alias("projected"),
    )


def projection_distortion_eval(
    emb: DataFrame,
    *,
    out_dim: int = 16,
    n_pairs_side: int = 40,
    in_dim: int = 64,
) -> DataFrame:
    """X41 self-eval: pairwise-distance distortion of the projection over a
    bounded id-slice pair panel -- reports mean/min/max of
    ||p(a)-p(b)|| / ||a-b|| plus the fraction within the classic (0.5, 2.0)
    band.  JL guarantees concentration near 1 as out_dim grows; the floors
    are pinned in tests so a broken projection (wrong scaling, collapsed
    dim) fails loudly.

    Identical-vector pairs (base distance 0, ratio undefined) are EXCLUDED
    from the panel and counted separately as ``n_zero_pairs``, so n_pairs,
    mean/min/max and frac_in_band all share one denominator — on a dedup
    corpus full of duplicate embeddings the band fraction is otherwise
    biased low by pairs that say nothing about distortion.

    All statistics are engine-exact (r8): squared-diff sums fold in
    decimal, the mean accumulates decimal-cast ratios, and every output is
    floor-rounded to 1e-6 — so with the md5 sign matrix the whole eval is
    DuckDB-oracle-checkable."""
    proj = random_projection(emb, out_dim=out_dim, in_dim=in_dim)
    base = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")).join(
        proj.select(F.col("vec_id").alias("_id"), "projected"), "_id"
    ).filter(F.col("_id") < n_pairs_side)
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("projected").alias("pa")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("projected").alias("pb")
    )

    dec = "decimal(28,12)"

    def dist(x, y):
        # per-element squared diff is exact IEEE on any engine; the SUM
        # accumulates in decimal so the value is partition- and
        # engine-order-insensitive (the _dot_dec pattern)
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    x,
                    y,
                    lambda p, q: ((p.cast("double") - q.cast("double")) ** 2).cast(dec),
                ),
                F.lit(0).cast(dec),
                lambda acc, v: (acc + v).cast(dec),
            ).cast("double")
        )

    # broadcast one bounded side and coalesce the other: a plain crossJoin
    # of two 32-partition 40-row sides is a CartesianProduct with 32x32 =
    # 1024 near-empty tasks — pure scheduler overhead (measured as the bulk
    # of this eval's 2.5 s at sf0.1)
    pairs = (
        a.coalesce(8)
        .crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            dist(F.col("va"), F.col("vb")).alias("_base"),
            dist(F.col("pa"), F.col("pb")).alias("_proj"),
        )
        .select(
            (F.col("_base") == 0.0).alias("_zero"),
            F.when(F.col("_base") > 0.0, F.col("_proj") / F.col("_base")).alias("ratio"),
        )
    )
    mult = 1000000.0

    def r6(c: F.Column) -> F.Column:
        return F.floor(c * mult + 0.5) / mult

    return pairs.agg(
        F.count(F.col("ratio")).alias("n_pairs"),
        F.sum(F.col("_zero").cast("long")).alias("n_zero_pairs"),
        r6(
            F.try_divide(
                F.sum(F.col("ratio").cast(dec)).cast("double"), F.count("ratio")
            )
        ).alias("mean_ratio"),
        r6(F.min("ratio")).alias("min_ratio"),
        r6(F.max("ratio")).alias("max_ratio"),
        r6(
            F.avg(
                F.when(F.col("ratio").isNull(), None)
                .when((F.col("ratio") > 0.5) & (F.col("ratio") < 2.0), 1.0)
                .otherwise(0.0)
            )
        ).alias("frac_in_band"),
    )


def normalize_embeddings_zscore(
    emb: DataFrame,
) -> DataFrame:
    """X45 per-dimension z-score standardization of an embedding column —
    the feature-scaling step before quantization / distance computations
    when dimensions have heterogeneous ranges.

    100 TB shape: ONE posexplode partial-agg shuffle reduces the corpus to
    D rows of (count, Σx, Σx²) with the sums decimal-accumulated (exact, so
    fold order cannot diverge across partitionings/engines); D is the
    embedding dimensionality (64–4096: bounded by the MODEL, not the data),
    so the per-dimension mean/std arrays FOLD into the plan as a one-row
    broadcast (dim-sorted collect_list — the same bounded size the former
    driver collect relied on, minus the extra action + corpus pass per
    plan build, r10), and normalization is a row-local transform.
    Zero-variance dimensions map to 0.0.  Output: (id, normalized
    array<double> rounded 1e-6)."""
    dec = "decimal(38,12)"
    x = F.col("_x").cast("double")
    per_dim = (
        emb.select(F.posexplode("embedding").alias("_dim", "_x"))
        .groupBy("_dim")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast(dec)).alias("_sx"),
            F.sum((x * x).cast(dec)).alias("_sxx"),
        )
        .select(
            "_dim",
            (F.col("_sx").cast("double") / F.col("_n")).alias("_mean"),
            F.sqrt(
                F.col("_sxx").cast("double") / F.col("_n")
                - (F.col("_sx").cast("double") / F.col("_n"))
                * (F.col("_sx").cast("double") / F.col("_n"))
            ).alias("_std"),
        )
    )
    stats = per_dim.agg(
        F.sort_array(F.collect_list(F.struct("_dim", "_mean", "_std"))).alias("_st")
    ).select(
        F.transform(F.col("_st"), lambda s: s["_mean"]).alias("_means"),
        F.transform(F.col("_st"), lambda s: s["_std"]).alias("_stds"),
    )
    mean_arr = F.col("_means")
    std_arr = F.col("_stds")
    mult = 1e6
    normalized = F.transform(
        F.col("embedding"),
        lambda v, i: F.when(
            F.element_at(std_arr, i + 1) > 0.0,
            F.floor(
                (v.cast("double") - F.element_at(mean_arr, i + 1))
                / F.element_at(std_arr, i + 1)
                * mult
                + 0.5
            )
            / mult,
        ).otherwise(F.lit(0.0)),
    )
    from ..sources.star import ensure_parallelism

    return (
        ensure_parallelism(emb)
        .crossJoin(F.broadcast(stats))
        .select(F.col("vec_id"), normalized.alias("normalized"))
    )


def hybrid_rrf(
    lexical: DataFrame,
    vector: DataFrame,
    *,
    topk: int = 10,
) -> DataFrame:
    """X54 hybrid retrieval fusion — reciprocal rank fusion (Cormack,
    Clarke & Buettcher, SIGIR 2009): ``score(d) = Σ_sources 1/(k + rank_s)``
    over a lexical (BM25) and a vector (cosine) ranking for the same query
    panel.  RRF needs no score calibration between modalities (ranks only),
    which is why it is the default fusion in production hybrid search.

    Inputs: ``lexical`` (query_id, doc_id, rank) and ``vector``
    (query_id, doc_id, rank) — both already top-k-bounded per query, so this
    operator only ever touches |panel|·k rows: one union, one tiny groupBy,
    one windowed top-k.  Per-doc contributions are 1/(k+rank) doubles; at
    most one term per source, and two-term IEEE addition is commutative, so
    the fused score is deterministic without decimal machinery."""
    mult = 1e9
    contrib = lambda df: df.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) / (F.lit(60.0) + F.col("rank").cast("double"))).alias("_c"),
    )
    fused = (
        contrib(lexical)
        .unionByName(contrib(vector))
        .groupBy("query_id", "doc_id")
        .agg(
            (F.floor(F.sum("_c") * mult + 0.5) / mult).alias("rrf_score"),
            F.count(F.lit(1)).cast("int").alias("n_sources"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "doc_id", "rrf_score", "n_sources", "rank")
    )


def embedding_qc(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    expected_dim: int | None = None,
) -> DataFrame:
    """X65 embedding quality control — the vector-side ingest gate: flag
    NULL vectors, wrong dimensionality, non-finite components (NaN/Inf
    survive parquet and silently poison every downstream dot product), and
    degenerate norms (all-zero vectors make cosine undefined; exploded
    norms are usually an upstream scaling bug).  Run BEFORE building any
    index; one bad vector in an IVF training sample skews every centroid.

    100 TB shape: map-only — one row-local pass computing dim / finiteness
    / norm² via array expressions (no UDF, no shuffle); downstream filters
    on the flags pushdown-compose with the scan.  norm² sums per-component
    doubles in ARRAY ORDER (F.aggregate folds left-to-right), so the value
    is engine-identical — no shuffle-order concern for row-local folds.

    Output: (id, dim, n_nonfinite, norm, ok plus the reason flags)."""
    v = F.col(vec_col)
    dim = F.when(v.isNull(), F.lit(0)).otherwise(F.size(v)).cast("int")
    # a NULL component counts as non-finite: isnan(NULL) is NULL, so without
    # the explicit isNull() arm the filter would silently drop it and a
    # null-poisoned vector would sail through with a NULL verdict downstream
    nonfinite = F.when(v.isNull(), F.lit(0)).otherwise(
        F.size(
            F.filter(v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(1e308)))
        )
    ).cast("int")
    norm_sq = F.when(
        v.isNull() | (nonfinite > 0), F.lit(None).cast("double")
    ).otherwise(
        F.aggregate(
            v,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    mult = 1e6
    norm = F.floor(F.sqrt(norm_sq) * mult + 0.5) / mult
    bad_dim = (
        F.lit(False) if expected_dim is None else dim != F.lit(int(expected_dim))
    )
    flag_null = v.isNull()
    flag_dim = ~flag_null & bad_dim
    flag_nonfinite = ~flag_null & (nonfinite > 0)
    flag_norm = (
        ~flag_null
        & ~flag_nonfinite
        & ((norm < F.lit(1e-6)) | (norm > F.lit(1e6)))
    )
    return df.select(
        F.col(id_col),
        dim.alias("dim"),
        nonfinite.alias("n_nonfinite"),
        norm.alias("norm"),
        flag_null.alias("is_null"),
        flag_dim.alias("bad_dim"),
        flag_nonfinite.alias("has_nonfinite"),
        flag_norm.alias("bad_norm"),
        (~flag_null & ~bad_dim & ~flag_nonfinite & ~flag_norm).alias("ok"),
    )
