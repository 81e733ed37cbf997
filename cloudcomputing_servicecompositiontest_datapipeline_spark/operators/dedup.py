"""Deduplication operators for large-scale text corpora (SURVEY.md §2.12,
BASELINE.json north star).  Beyond the reference's exact first-wins dedup
(Transform.java:292-294, re-expressed in transform.py), this module adds the
LLM-data-pipeline family: exact-hash, MinHash+LSH, SimHash, and n-gram
Jaccard near-dup.

Scale design: every path is expressible as hash-partitioned DataFrame ops —
no driver-side pairwise loops; the one driver-side step,
``cluster_canonical``'s union-find, runs only on graphs that fit one
partition.  MinHash/LSH candidate generation is band-bucket grouping
(shuffle on band hash), so cost is O(docs × bands), not O(docs²); only
candidate pairs within a bucket are verified exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.star import ensure_parallelism, stage_barrier


def normalized_text(col: F.Column) -> F.Column:
    """Normalization used for exact dedup: lower + trim + whitespace collapse."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def normalized_text_sql(col: str) -> str:
    """:func:`normalized_text` of column ``col`` as SQL-expression text, for
    expressions built as one ``F.expr`` instead of one py4j round trip per
    ``functions.*`` call."""
    return f"regexp_replace(lower(trim(`{col}`)), '\\\\s+', ' ')"


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X1: exact dedup by normalized content hash, keeping the lowest id
    (deterministic analogue of first-wins, SURVEY.md §7.3).  One shuffle on
    the 256-bit hash; at 100 TB the hash column is what you'd bucket by."""
    h = F.sha2(normalized_text(F.col(text_col)), 256).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def token_sets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Distinct word set per document (basis for Jaccard / shingles)."""
    return ensure_parallelism(df).select(
        F.col(id_col),
        F.array_distinct(F.split(normalized_text(F.col(text_col)), " ")).alias("tokens"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Word-set Jaccard near-dup pairs with optional blocking (X2 exact
    variant).  Blocking (e.g. language) bounds the per-block self-join the
    same way ``overlapFilter`` bounds J1; at 100 TB you block on LSH buckets
    (see :func:`minhash_signatures`) instead of an attribute.

    ``block_col`` is carried THROUGH the token projection, not joined back
    on the id (the oracle's shape): the join-back was a whole extra
    id-keyed shuffle of the token arrays, and under DUPLICATE ids it
    multiplied the token table quadratically before the self-join (the
    all-duplicates test corpus measured 45 s for 50 rows; 0.4 s carried
    through).  For unique ids the attached value is identical, so every
    declared output is unchanged."""
    if block_col:
        toks = ensure_parallelism(df).select(
            F.col(id_col),
            F.array_distinct(
                F.split(normalized_text(F.col(text_col)), " ")
            ).alias("tokens"),
            F.col(block_col),
        )
    else:
        toks = token_sets(df, text_col, id_col)
    a = toks.alias("a")
    b = toks.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    # Intersect ONCE per pair, behind a fence (the winnow_verify r11 class):
    # the threshold otherwise pushes into the self-join condition and
    # survivors re-evaluate in the project.  Token sets are per-row
    # DISTINCT, so |A∪B| = |A|+|B| − |A∩B| and the array_union pass drops.
    staged = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.size(F.array_intersect(F.col("a.tokens"), F.col("b.tokens"))).alias("_inter"),
        (F.size(F.col("a.tokens")) + F.size(F.col("b.tokens"))).alias("_tot"),
    )
    staged = stage_barrier(staged, "_inter")
    jac = F.col("_inter").cast("double") / (F.col("_tot") - F.col("_inter"))
    return (
        staged.select(
            "id_a",
            "id_b",
            (F.floor(jac * 1000000 + 0.5) / 1000000).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct n-word shingles per document (exploded).

    Staged select + explode_outer, not inline explode: the optimizer's
    InferFiltersFromGenerate adds a size()>0 filter that pushes below the
    projection with the WHOLE shingle expression substituted in — its
    per-element lambda then re-evaluates the token split per shingle,
    turning this row-local pass quadratic in document length."""
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("_tk"),
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_tk") - n, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("_tk"), i + 1, n), " "),
    )
    return staged.select(
        F.col(id_col), F.explode_outer(F.array_distinct(sh)).alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, *, num_hashes: int = 16
) -> DataFrame:
    """X2: MinHash signature per document — ``num_hashes`` independent hash
    functions simulated by salting xxhash64 (deterministic, JVM-side).

    Entirely ROW-LOCAL: the k-th signature slot is
    ``array_min(transform(shingles, s -> xxhash64(k, s)))`` over the
    document's own shingle array — no explode, no groupBy, ZERO shuffle.
    (min over the multiset equals min over the distinct set, so the earlier
    explode→groupBy(min) formulation computes byte-identical signatures at
    the cost of shuffling ~|shingles|× the row count.)  At 100 TB this is a
    pure map stage that pipelines into the LSH banding projection."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
    )
    # k independent hash fns = multi-arg xxhash64 with a distinct int salt
    # (cheaper than string concat: no per-row-per-k allocation).
    mins = [
        F.array_min(F.transform(F.col("__sh"), lambda s: F.xxhash64(F.lit(k), s)))
        for k in range(num_hashes)
    ]
    return (
        ensure_parallelism(df)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), sh.alias("__sh"))
        .select(F.col(id_col), F.array(*mins).alias("sig"))
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """X2: band the signatures and bucket the docs — docs sharing any band
    bucket become candidate pairs.  The shuffle key is (band, band_hash):
    this is the O(n·bands) scale path that replaces the O(n²) all-pairs join.

    Pair generation is ONE ``groupBy(band, bucket).collect_list(id)`` plus a
    row-local sorted-list pair expansion — not a bucket self-join.  A
    self-join here recomputes the whole upstream pipeline (scan → shingles →
    signatures → banding) once per side and shuffles it twice; the grouped
    form computes it once, shuffles the narrow (id, band, bucket) rows once,
    and expands pairs inside the bucket row.  The member list per bucket is
    small by construction (bucket = 1/2^128 hash cell), and degenerate
    buckets are exactly what ``max_bucket_size`` bounds.

    ``max_bucket_size`` is the skew guard for real corpora: a degenerate
    bucket (boilerplate pages, empty docs — thousands of members) is
    quadratic in members and, in the grouped form, concentrates its list in
    one aggregation buffer.  Buckets above the cap are DROPPED from
    candidate generation (the standard production-LSH move: their members
    are wholesale near-identical and belong to exact dedup / passage dedup,
    which handle them linearly) — set it for any unbounded corpus.  With a
    cap the guard is enforced BEFORE the list ever materializes: a
    ``count(*) OVER (PARTITION BY band, bucket)`` sizes every bucket, the
    2..cap filter drops over-cap members as plain rows, and only then does
    the collect_list run — so its aggregation buffer holds at most ``cap``
    ids.  The window and the collect share the (band, bucket) hash
    partitioning, so the whole capped pipeline costs ONE exchange (the
    r7 form — a count pre-pass + broadcast anti-join — paid a second
    aggregation, a join, and a localCheckpoint of the banded rows for the
    same semantics; at sf0.1 that was +0.6 s on the headline).  A
    degenerate bucket's rows pass through WindowExec's spill-safe external
    row buffer (disk-backed), never an agg hash-map entry — the OOM class
    this cap exists to kill.  A post-collect ``size(ids) <= cap`` filter
    would instead have paid the hot bucket's full buffer just to throw it
    away.  Without a cap (None) the single-pass form runs — the caller is
    accepting unbounded buckets explicitly.

    The band-bucket key is the md5 digest of the band's joined slice —
    engine-portable, so an md5_32-signed LSH pipeline is
    DuckDB-oracle-checkable end to end.  It is the 16-byte binary digest,
    not the 32-char hex string: bucket keys only need EQUALITY semantics,
    unhex(hex) is injective, and the (band, bucket) exchange carries half
    the key bytes."""
    # one SQL text per generated family: one py4j round trip for the whole
    # band array instead of several per band
    bucket = "unhex(md5(array_join(transform(slice(sig, {}, {}), x -> cast(x as string)), ',')))"
    band_structs = ", ".join(
        f"struct({b} AS band, {bucket.format(b * rows_per_band + 1, rows_per_band)} AS bucket)"
        for b in range(bands)
    )
    banded = sig.select(
        F.col(id_col),
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        # one exchange for the whole capped pipeline: the bucket-size window
        # and the collect groupBy share hash(band, bucket) partitioning, so
        # Catalyst plans Exchange → Sort → Window → Filter → ObjectHashAgg
        # with no second shuffle; over-cap (and singleton) members die as
        # plain rows before any list buffers
        w = Window.partitionBy("band", "bucket")
        pruned = banded.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
            (F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size)
        )
        grouped = pruned.groupBy("band", "bucket").agg(
            F.array_sort(F.collect_list(id_col)).alias("ids")
        )
    else:
        grouped = (
            banded.groupBy("band", "bucket")
            .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
    # sorted ids ⇒ emitting (ids[i], ids[j]) for i<j gives id_a < id_b
    pairs = F.expr(
        "flatten(transform(sequence(1, size(ids) - 1), i -> transform("
        "slice(ids, i + 1, size(ids) - i), x -> struct(element_at(ids, i) AS id_a, x AS id_b))))"
    )
    return (
        # explode_outer: keeps InferFiltersFromGenerate from duplicating the
        # O(bucket^2) pair-expression into a pushed-down filter
        grouped.select(F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """X2 end-to-end: LSH candidates → exact Jaccard verification → pairs ≥
    threshold.  Candidates only are verified (bucket-bounded);
    ``max_bucket_size`` passes through as the degenerate-bucket skew guard.

    Signatures are salted md5 32-bit slots and band buckets are md5
    digests — engine-portable, so the WHOLE candidates→verify pipeline is
    DuckDB-oracle-checkable (the 32-bit slots collide slightly more often
    in a band than 64-bit hashes would, which the exact-Jaccard verify step
    absorbs).

    Signature and verification share ONE item space — the ``shingle_n``-word
    shingle set — so the MinHash collision probability estimates exactly the
    Jaccard that the verification thresholds (mixing spaces, e.g. shingle
    candidates with word-set verification, silently drops every pair whose
    word-set similarity doesn't come with shingle-order similarity).
    ``shingle_n=1`` IS the word-set space of :func:`ngram_jaccard_pairs`,
    the exact oracle twin; ``shingle_n>=2`` adds word-order sensitivity.

    The normalized-shingle projection ``(id, items)`` is computed ONCE and
    ``persist()``-ed (MEMORY_AND_DISK), then feeds all three consumers —
    signatures (min over the distinct set ≡ min over the multiset) and both
    verification sides.  Recomputing it per consumer costs three full
    scan+normalize+shingle passes over the corpus, the dominant term; the
    persisted projection is a fraction of corpus size (ids + distinct
    shingles, no raw text) — at 100 TB this is the intermediate you'd
    materialize to parquet between the two stages."""
    rows_per_band = num_hashes // bands
    # The shingle set, the digests and the signature slots are each ONE
    # SQL-expression text: the same expression tree as the Column API
    # builds, but one py4j round trip per projection instead of one per
    # ``functions.*`` call (hundreds for the 16 slot lambdas).
    toks = f"split({normalized_text_sql(text_col)}, ' ')"
    items = (
        f"array_distinct(transform(sequence(0, greatest(size({toks}) - {shingle_n}, 0)), "
        f"i -> array_join(slice({toks}, i + 1, {shingle_n}), ' ')))"
    )
    sets = (
        ensure_parallelism(df)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.expr(items).alias("items"))
        .persist()
    )
    # one md5 digest yields FOUR independent 32-bit slots (substrings of
    # the 32 hex chars) — ceil(num_hashes/4) digests per shingle instead
    # of num_hashes, the dominant cost of the signatures.  The nested
    # transform stages each shingle's digest array ONCE (no CSE inside
    # interpreted higher-order lambdas — the SCALING.md lambda-capture
    # note), then fans the 8-hex-char windows out row-locally.
    n_digests = (num_hashes + 3) // 4
    slots = (
        f"transform(items, s -> transform(sequence(0, {n_digests - 1}), "
        "g -> md5(concat(cast(g as string), ':', s))))"
    )
    # Fixed-width lowercase hex sorts like its numeric value, so each slot
    # takes the min over the 8-hex-char windows and parses ONE winner per
    # (doc, slot) — not one conv per shingle (16×|shingles| string-parses
    # saved; values identical by monotonicity of conv on fixed-width hex).
    mins = ", ".join(
        "cast(conv(array_min(transform(_digests, ds -> "
        f"substring(element_at(ds, {k // 4 + 1}), {8 * (k % 4) + 1}, 8))), 16, 10) as bigint)"
        for k in range(num_hashes)
    )
    sig = sets.select(F.col(id_col), F.expr(slots).alias("_digests")).select(
        F.col(id_col), F.expr(f"array({mins})").alias("sig")
    )
    cands = lsh_candidate_pairs(
        sig,
        id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    ta = sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("items", "items_a")
    tb = sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("items", "items_b")
    # Intersect ONCE per pair, behind a fence (the winnow_verify r11 class):
    # expressing jaccard directly let the threshold filter push into the
    # verify join's CONDITION, re-evaluating intersect+union per pair there
    # and again per survivor in the project.  |A∪B| = |A|+|B| − |A∩B| for
    # the per-doc DISTINCT shingle sets, so the array_union pass drops
    # entirely — same value, half the array work.
    staged = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("items_a", "items_b")).alias("_inter"),
            (F.size("items_a") + F.size("items_b")).alias("_tot"),
        )
    )
    staged = stage_barrier(staged, "_inter")
    inter = F.col("_inter")
    union = F.col("_tot") - inter
    return (
        staged.select(
            "id_a",
            "id_b",
            (F.floor(inter.cast("double") / union * 1000000 + 0.5) / 1000000).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X2 variant: 32-bit SimHash per document, fully JVM-side and ROW-LOCAL:
    hash each distinct token once (``transform``), then per bit vote +1/-1
    over the document's own hash array (``aggregate``), sign → bit.  No
    explode, no groupBy, ZERO shuffle — a pure map stage at any scale.
    (The earlier explode→groupBy(per-bit sums) formulation computes
    identical signatures but shuffles ~|tokens|× the row count.)

    The token hash is the first 8 hex chars of md5 as a 32-bit int — one
    vote per bit, engine-portable, so the signature is
    DuckDB-oracle-checkable exactly like the winnowing fingerprints."""
    hashes = F.transform(
        F.array_distinct(F.split(normalized_text(F.col(text_col)), " ")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    votes = [
        F.aggregate(
            F.col("__hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        for b in range(32)
    ]
    sig = None
    for b in range(32):
        bit = F.when(votes[b] > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return (
        ensure_parallelism(df)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), hashes.alias("__hs"))
        .select(F.col(id_col), sig.alias("simhash"))
    )


def passage_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    passage_tokens: int = 10,
) -> DataFrame:
    """X2 passage-level exact dedup (the C4/CCNet "remove repeated
    paragraphs" pass, expressed at passage granularity): split every document
    into non-overlapping ``passage_tokens``-token passages, keep only the
    globally FIRST occurrence of each distinct passage (ordered by
    (id, passage index)), and reassemble the surviving passages into a
    cleaned document.

    Scale shape: the passage split is row-local (no shuffle); dedup is ONE
    shuffle on the passage hash (md5 keeps the exchange key 16 bytes no
    matter the passage length); reassembly is one shuffle back on the doc
    id.  Both keys are high-cardinality and skew-free — the hottest passage
    key only carries its duplicate count.  Documents whose passages are all
    dropped disappear from the output (fully-boilerplate docs — the desired
    semantics).

    Reference analogue: the reference's first-wins row dedup
    (Transform.java:292-294) at sub-document granularity.
    """
    stride = passage_tokens
    toks = F.split(normalized_text(F.col(text_col)), " ")
    starts = F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
    passages = (
        ensure_parallelism(df)
        .select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.posexplode(starts).alias("chunk_idx", "_start"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(
                F.slice(F.col("_toks"), F.col("_start") + 1, stride), " "
            ).alias("passage"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("passage")).orderBy(id_col, "chunk_idx")
    n_total = Window.partitionBy(id_col)
    kept = (
        passages.withColumn("rn", F.row_number().over(w))
        .withColumn("n_passages", F.count(F.lit(1)).over(n_total))
        .filter(F.col("rn") == 1)
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "passage"))),
                    lambda s: s["passage"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
            (F.first("n_passages") - F.count(F.lit(1))).alias("n_dropped"),
        )
    )


def dedup_against_corpus(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    containment_threshold: float = 0.8,
) -> DataFrame:
    """X2 cross-corpus dedup: keep only incoming documents that are neither
    (a) exact duplicates of a corpus document (normalized-hash anti-join)
    nor (b) near-contained in the corpus — i.e. ≥ ``containment_threshold``
    of their distinct ``shingle_n``-word shingles already appear somewhere
    in the corpus.  This is the incremental-ingest gate of a training-data
    pipeline: new crawl batches are checked against the existing corpus, not
    against themselves.

    Scale shape: the exact stage is a hash anti-join on a 32-byte key.  The
    containment stage joins incoming shingles against the corpus's DISTINCT
    shingle set on an md5 key — at 100 TB that set is far too big to
    broadcast, so this is deliberately a partitioned shuffle hash join (both
    sides hashed on the shingle key); the per-doc aggregation then reduces
    on the incoming id.  Containment is directional (|inc ∩ corpus| /
    |inc|), the right asymmetry for "is this NEW doc already covered?".

    Returns surviving incoming docs: (id, containment rounded to 1e-6).
    """
    # join keys are unhex'd to BINARY (16-byte md5 / 32-byte sha2) instead
    # of their hex strings (32 / 64 chars + string overhead): hex encoding
    # is injective, so equality — and therefore every join/distinct result
    # — is unchanged, while the corpus-sized shuffles carry ~half the key
    # bytes (guide §2.3 "shuffle fewer bytes, narrower types")
    inc_hash = incoming.select(
        F.col(id_col),
        F.unhex(F.sha2(normalized_text(F.col(text_col)), 256)).alias("_h"),
    )
    corp_hash = corpus.select(
        F.unhex(F.sha2(normalized_text(F.col(text_col)), 256)).alias("_h")
    )
    fresh = inc_hash.join(corp_hash, "_h", "left_anti").select(id_col)
    inc_sh = shingles(incoming.join(fresh, id_col, "left_semi"), text_col, id_col, shingle_n).select(
        F.col(id_col), F.unhex(F.md5("shingle")).alias("sh")
    )
    corp_sh = (
        shingles(corpus, text_col, id_col, shingle_n)
        .select(F.unhex(F.md5("shingle")).alias("sh"))
        .distinct()
        .withColumn("_in_corpus", F.lit(1))
    )
    mult = 1000000.0
    containment = F.floor(
        F.sum(F.when(F.col("_in_corpus") == 1, 1).otherwise(0)).cast("double")
        / F.count(F.lit(1))
        * mult
        + 0.5
    ) / mult
    return (
        inc_sh.join(corp_sh, "sh", "left")
        .groupBy(id_col)
        .agg(containment.alias("containment"))
        .filter(F.col("containment") < containment_threshold)
    )


#: Edges per partition of :func:`cluster_canonical`'s label-propagation
#: loop.  A graph with fewer (directed, distinct) edges fits one partition
#: and is solved on the driver instead.
_EDGES_PER_PARTITION = 500_000


def component_minimum(edges) -> dict:
    """Connected components of an undirected edge list by union-find:
    ``{node: smallest node of its component}`` for every node on some edge
    of ``edges`` (an iterable of ``(a, b)``; ids non-NULL and mutually
    comparable).  One pass over the edges, no rounds.  Unions hang the
    larger root under the smaller, so every root is its component's
    minimum; finds compress their path.  :func:`cluster_canonical` runs it
    on the driver for graphs under ``_EDGES_PER_PARTITION`` edges."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for x, y in edges:
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx < ry:
            parent[ry] = rx
        elif ry < rx:
            parent[rx] = ry
    return {v: find(v) for v in parent}


def cluster_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    max_iterations: int = 25,
) -> DataFrame:
    """X2 completion: collapse near-dup *pairs* into clusters and elect one
    canonical document per cluster (the component-minimum id) — the step a
    dedup pipeline needs after pair detection to decide what to keep.
    Docs with no near-dup pair keep themselves as canonical; a NULL id
    pairs with nothing and stays NULL.

    The pairs become one-way edges ``(least, greatest)``, distinct, with
    self-loops and NULL endpoints dropped (``least``/``greatest`` skip a
    NULL, so such a pair folds to ``(a, a)`` and fails ``src < dst``; the
    final coalesce gives those nodes themselves).  Each one-way edge is two
    directed edges, so a graph under ``_EDGES_PER_PARTITION`` directed
    edges has at most ``cap = (_EDGES_PER_PARTITION - 1) // 2`` of them.
    One bounded Arrow collect of at most ``cap + 1`` one-way edges picks
    one of two ways to the same component minima:

    - **Driver** (the collect did not overflow: fewer than
      ``_EDGES_PER_PARTITION`` directed edges — the common case, a few-%
      dup rate gives a kilobyte-to-megabyte graph):
      :func:`component_minimum` over the collected edges, and the labels
      shipped back with ``createDataFrame`` typed like the ids.  One
      collect whatever the graph's diameter, and nothing is checkpointed
      or persisted; ``max_iterations`` does not apply, the fixpoint is
      always reached.  No Python worker starts.
    - **Loop** (the collect overflowed, so the graph no longer fits one
      partition): the symmetric edge set is checkpointed and counted, and
      iterative min-label propagation WITH pointer jumping runs over
      ``edges.count() // _EDGES_PER_PARTITION + 1`` partitions (capped at
      the session's parallelism).  The edge pipeline runs again for the
      checkpoint, once, on top of the overflowing collect.  Every node
      starts labelled with itself; each step every node takes the min
      label among itself and its neighbors, then follows its label one
      hop (label ← label(label)), so rounds are O(log diameter) instead of
      O(diameter) (measured 22 rounds → 6 on the sf0.1 semantic-dedup
      graph), at most ``max_iterations`` steps.  The jump only ever
      replaces a label with a smaller same-component label, so the
      fixpoint is the component minimum.  ``localCheckpoint`` truncates
      lineage each round; the convergence check is a cheap
      ``limit(1).count`` over the previous label carried THROUGH the
      round's aggregate.
    """
    one_way = (
        pairs.select(
            F.least("id_a", "id_b").alias("src"), F.greatest("id_a", "id_b").alias("dst")
        )
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    cap = (_EDGES_PER_PARTITION - 1) // 2
    collected = one_way.limit(cap + 1).toArrow()
    if collected.num_rows <= cap:
        labels = _driver_labels(one_way, collected)
    else:
        edges = one_way.unionByName(
            one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint(eager=False)
        # the count materializes the edge checkpoint the loop reads
        labels = _propagated_labels(edges, edges.count(), max_iterations)
    return (
        df.select(F.col(id_col).alias("node"))
        .join(labels.select("node", "label"), "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", F.col("node")).alias("canonical_id"),
        )
    )


def _driver_labels(one_way: DataFrame, collected) -> DataFrame:
    """(node, label) of :func:`cluster_canonical`'s graph, solved on the
    driver from ``collected``, the Arrow table of every one-way edge of
    ``one_way``.  ``toArrow`` and an Arrow-table ``createDataFrame`` move
    the data in Arrow batches whatever the session's Arrow setting — the
    pandas and row fallbacks would collect row by row, and a local-rows
    ``createDataFrame`` runs a Python worker to re-pickle them."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    canon = component_minimum(
        zip(collected.column("src").to_pylist(), collected.column("dst").to_pylist())
    )
    id_type = one_way.schema["src"].dataType
    return one_way.sparkSession.createDataFrame(
        pa.table({"node": list(canon), "label": list(canon.values())}),
        StructType().add("node", id_type).add("label", id_type),
    )


def _propagated_labels(
    edges: DataFrame, n_edges: int, max_iterations: int
) -> DataFrame:
    """(node, label) of :func:`cluster_canonical`'s graph by pointer-jumped
    min-label propagation, for graphs too big for one partition."""
    spark = edges.sparkSession
    # Size the ITERATIVE frames to the GRAPH, not the session default:
    # every round reads p partitions instead of shuffle.partitions
    # near-empty ones, and a huge graph keeps full parallelism.  Each round
    # makes ~3 passes over the edge set (propagate join, node agg, jump
    # join), so the unit is smaller than a scan partition.
    p = max(
        1,
        min(int(spark.sparkContext.defaultParallelism), n_edges // _EDGES_PER_PARTITION + 1),
    )
    edges = edges.repartition(p).localCheckpoint(eager=False)
    # Iterate over TOUCHED nodes only (nodes on some edge): singletons
    # can never change label, so keeping them in the loop just
    # multiplies every round's join/agg by |corpus|.  With this cut the
    # iterative frames scale with the DUPLICATE population (pairs), not
    # the corpus — at a typical few-% dup rate that is a 10-100x
    # smaller loop; singletons rejoin as themselves at the end.
    touched = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = touched.select("node", F.col("node").alias("label"))

    def _step(lbl: DataFrame) -> DataFrame:
        neighbor_labels = (
            edges.join(
                lbl.select(F.col("node").alias("src"), "label"), "src"
            ).select(
                F.col("dst").alias("node"),
                "label",
                F.lit(None).cast(lbl.schema["label"].dataType).alias("_old"),
            )
        )
        # The old label rides through the min-fold as max(_old): every
        # touched node appears exactly once in `lbl`, so max over
        # (its old label, NULLs from neighbor rows) IS the old label —
        # the convergence probe then needs no old-vs-new join.
        propagated = (
            lbl.select("node", "label", F.col("label").alias("_old"))
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
        )
        # Pointer jump: label ← label(label).  Every label value is itself a
        # node (labels are min-folds over node ids), so the self-join is
        # total; left+coalesce guards the invariant anyway.
        hop = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("_jump")
        )
        return propagated.join(hop, "label", "left").select(
            "node",
            F.coalesce("_jump", F.col("label")).alias("label"),
            "_old",
        )

    # TWO propagate+jump steps per driver round-trip: one action per
    # round (the lazy localCheckpoint materializes when the convergence
    # probe runs), so halving the probe count halves the loop's fixed
    # job/plan latency — which dominates once the graph is small (r10
    # profile: ~0.1 s per job × rounds).  Fixpoint unchanged: the probe
    # tests the SECOND step's own (label != old-label) delta, and a
    # full propagate+jump step that changed nothing means the fixpoint
    # was already reached, regardless of what the first step did; a
    # run that converges on an odd step just pays one extra no-op step
    # instead of one extra probe.
    for _ in range((max_iterations + 1) // 2):
        new_labels = _step(_step(labels).select("node", "label")).localCheckpoint(
            eager=False
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("_old")).limit(1).count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    salt: str = "split0",
) -> DataFrame:
    """X26 leakage-safe train/val/test split: hash the near-dup CLUSTER, not
    the document.  Splitting by ``hash(doc_id)`` leaks — two near-duplicate
    documents land in different splits and the eval set is contaminated by
    training twins.  Here every document is assigned by a deterministic
    md5-uniform draw on its cluster CANONICAL id (components from
    :func:`cluster_canonical` over near-dup ``pairs``), so a whole near-dup
    group moves as one unit; singletons degenerate to hashing their own id.

    At 100 TB ``pairs`` comes from the LSH candidate path
    (:func:`minhash_near_dups`) — the same pair feed as
    ``dedup_cluster_canonical_lsh``; the draw itself is a pure row-local
    function of (salt, canonical), no RNG state, reproducible across
    engines and re-runs, re-dealable by changing ``salt``.

    Returns (id, canonical_id, split) with split ∈ {train, val, test}: 80%
    of clusters train, 10% val, 10% test."""
    canon = cluster_canonical(df.select(id_col), pairs, id_col)
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col("canonical_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        / float(1 << 24)
    )
    split = (
        F.when(draw < 0.8, "train").when(draw < 0.9, "val").otherwise("test")
    )
    return canon.select(F.col(id_col), "canonical_id", split.alias("split"))


def cluster_size_histogram(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X62 duplication profile: the distribution of exact-duplicate cluster
    sizes — the first number a dedup run reports ("how much of the corpus
    is copies, and is it many small twins or a few megaclusters?").  Built
    on :func:`exact_dedup`'s (content_hash → n_copies) groups; output one
    row per cluster size with the cluster count, total docs, and the share
    of the corpus those docs are.

    100 TB shape: the exact-dedup hash aggregate (one shuffle) followed by
    a |distinct sizes| aggregate — the histogram reduce side is tiny.
    Share doubles derive from exact integer sums (engine-identical)."""
    groups = exact_dedup(df, text_col, id_col)
    sized = groups.groupBy(F.col("n_copies").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    total = df.count()  # one long to the driver (bounded-collect pattern)
    mult = 1000000.0
    return sized.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        (
            F.floor(
                (F.col("cluster_size") * F.col("n_clusters")).cast("double")
                / float(total or 1)
                * mult
                + 0.5
            )
            / mult
        ).alias("corpus_share"),
    )


def dup_rate_by_group(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """X64 dedup attribution: per-group duplicate rates — which sources are
    shipping copies?  A doc is a duplicate when its normalized content hash
    is shared (cluster size >= 2) and it is not the cluster's keeper
    (lowest id — the :func:`exact_dedup` keep rule), so ``n_dropped`` is
    exactly what exact dedup would delete from that group.  Cross-group
    duplicates count against the group of the DROPPED copy, which is the
    attribution a source-quality report wants.

    100 TB shape (r10 restructure — the join is GONE): ONE map-side-partial
    aggregate to (content_hash, group, id) rows carrying the row count, a
    hash-partitioned window taking the cluster-wide min id over those
    (cluster-table-sized, never the fat doc stream), and the |groups|
    rollup.  A row is dropped iff its id is non-NULL and differs from the
    cluster keeper (= min id over the hash) — exactly the old per-doc
    ``id != keep_id`` test, evaluated once per distinct (hash, group, id)
    and weighted by that cell's count: NULL ids never drop (NULL != keep
    is NULL), every row SHARING the keeper id survives (the old join kept
    all of them), and a singleton cluster's only row IS the keeper,
    subsuming the old ``n_copies >= 2`` guard.  vs the old annotate-back
    join: the tagged doc stream no longer shuffles (only (hash, group, id)
    partials do — the same cardinality when ids are unique), sha2 runs
    once instead of twice, and the sort-merge join disappears.  Rates from
    exact integer sums.  (r10: an explicit repartition-by-hash meant to
    share one exchange between the old aggregate and join was measured and
    reverted before this restructure — column pruning narrowed the
    aggregate branch's exchange so the subtrees never canonicalized
    equal.)"""
    h = F.sha2(normalized_text(F.col(text_col)), 256)
    per = (
        df.select(F.col(id_col), F.col(group_col).alias("group"), h.alias("content_hash"))
        # NULL-text docs have a NULL hash: the former inner join dropped
        # them (NULL keys never join) — the aggregate must too
        .where(F.col("content_hash").isNotNull())
        .groupBy("content_hash", "group", id_col)
        .agg(F.count(F.lit(1)).alias("_k"))
    )
    w = Window.partitionBy("content_hash")
    keep = F.min(id_col).over(w)
    flagged = per.select(
        "group",
        "_k",
        F.when(
            F.col(id_col).isNull() | (F.col(id_col) == keep), F.lit(0)
        )
        .otherwise(F.col("_k"))
        .alias("_dropped"),
    )
    mult = 1e6
    return (
        flagged.groupBy("group")
        .agg(
            F.sum("_k").cast("long").alias("n_docs"),
            F.sum("_dropped").cast("long").alias("n_dropped"),
        )
        .select(
            "group",
            "n_docs",
            "n_dropped",
            (F.floor(F.col("n_dropped").cast("double") / F.col("n_docs") * mult + 0.5) / mult).alias(
                "dup_rate"
            ),
        )
    )


def fuzzy_pairs_by_block(
    df: DataFrame,
    name_col: str,
    id_col: str,
    block_col: str,
    *,
    max_distance: int = 2,
    max_block_size: int = 1000,
) -> DataFrame:
    """X72 fuzzy entity matching: candidate duplicate ENTITIES (names that
    differ by typos/reformatting, not texts) — the record-linkage step of
    master-data dedup.  Classic blocked edit-distance join: self-join only
    WITHIN a blocking key (nation, zip, name-length bucket...), keep pairs
    with Levenshtein distance <= ``max_distance``.

    100 TB shape: the block key is what makes this scale — per-block
    quadratic, like every similarity join here (LSH bands, winnow buckets,
    k-means blocks).  Oversized blocks (a degenerate key collapsing a
    fraction of the corpus) are DROPPED under the same ``max_block_size``
    skew-cap discipline as the LSH band join, and their members are
    exactly the rows a coarser pass (exact dedup) already covers.
    Levenshtein is a built-in on both engines (unit-cost edit distance),
    so the operator is oracle-checkable."""
    sized = df.select(
        F.col(id_col), F.col(name_col).alias("_nm"), F.col(block_col).alias("_blk")
    ).withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("_blk"))
    ).filter(F.col("_bn") <= max_block_size)
    a = sized.select(
        F.col(id_col).alias("id_a"), F.col("_nm").alias("_na"), "_blk"
    )
    b = sized.select(
        F.col(id_col).alias("id_b"), F.col("_nm").alias("_nb"), "_blk"
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein(F.col("_na"), F.col("_nb")))
        .filter(F.col("distance") <= max_distance)
        .select(
            "id_a",
            "id_b",
            F.col("_blk").alias("block"),
            F.col("distance").cast("int").alias("distance"),
        )
    )


def repeated_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """ExactSubstr-style duplicate-span signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for each
    document, the fraction of token positions covered by at least one
    k-token gram that occurs twice or more anywhere in the
    corpus (including within the same document).  The suffix-array
    ExactSubstr pass removes those spans; this operator reports the
    per-document duplicated-span mass so a curation gate can drop or trim
    the worst offenders.

    Plan (all shuffles keyed on a 64-bit gram hash, never broadcast —
    the gram table is corpus-sized):

    1. tokenize (normalized split) and posexplode every k-gram with its
       start position — row-local, no shuffle;
    2. count occurrences per gram hash (one gram-keyed shuffle with
       map-side partial aggregation) and keep grams at/over the threshold;
    3. shuffle-join occurrences against the repeated-gram table on the
       same hash key — co-partitioned, no second shuffle of the big side;
    4. expand each surviving occurrence to the k token indexes it covers,
       de-duplicate per (doc, index), and count — coverage is the union of
       overlapping spans, so a position inside three repeated grams counts
       once;
    5. join the per-doc covered counts back to per-doc token counts.

    Docs shorter than k tokens contribute their single truncated gram (the
    same slice convention as repetition_scores/novelty_scores), so a
    two-copy short doc still scores 1.0.  Gram equality is tested on
    xxhash64 of the gram text — at any realistic corpus size a 64-bit
    collision is vanishingly unlikely but would merge two distinct grams
    (same trade every MinHash/winnowing path in this module makes).

    Returns (id, n_tokens, covered_tokens, dup_span_frac) with the shared
    1e-6 rounding grid; coverage on a token-less document is
    NULL.
    """
    mult = 1e6
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), toks.alias("_t")
    )
    n_tokens = base.select(
        F.col("_id"), F.size("_t").cast("long").alias("n_tokens")
    )
    grams = base.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_t") - k, F.lit(0))),
                lambda i: F.xxhash64(F.array_join(F.slice("_t", i + 1, k), " ")),
            )
        ).alias("pos", "gh"),
    )
    repeated = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .where(F.col("_occ") >= 2)
        .select("gh")
    )
    covered = (
        grams.join(repeated, "gh")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("t"),
        )
        .groupBy("_id")
        .agg(F.count_distinct(F.col("t")).alias("covered_raw"))
    )
    return (
        n_tokens.join(covered, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            # clamp: the final (truncated) gram of a doc with n % 1 != 0
            # tokens can claim indexes past n-1; coverage is over REAL
            # positions only
            F.least(
                F.coalesce("covered_raw", F.lit(0)), F.col("n_tokens")
            ).alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    F.least(F.coalesce("covered_raw", F.lit(0)), F.col("n_tokens"))
                    .cast("double")
                    / F.col("n_tokens")
                    * mult
                    + 0.5
                )
                / mult,
            ).alias("dup_span_frac"),
        )
    )
