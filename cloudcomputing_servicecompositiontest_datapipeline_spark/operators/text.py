"""Text-analysis operators (SURVEY.md §2.12 X4): language-ID heuristic,
quality scoring, token counting, document fingerprinting.  All JVM-side
(built-in functions, no UDFs) so they run inside whole-stage codegen at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.fastlit import lit_doubles, lit_strings
from ..sources.star import ensure_parallelism, stage_barrier
from .dedup import cluster_canonical, normalized_text

#: Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des"],
}

#: A BPE-ish token pattern: runs of word chars, or single non-space symbols.
BPE_TOKEN_PATTERN = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def _stopword_hits(tokens: F.Column, words: list[str]) -> F.Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def language_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Language-ID: per-language stopword hit counts + argmax guess.
    (Heuristic n-gram/stopword scorer — the classic fastText-free fallback.)"""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    out = ensure_parallelism(df).select(F.col(id_col), toks.alias("tokens"))
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"hits_{lang}", _stopword_hits(F.col("tokens"), words))
    hit_cols = [F.col(f"hits_{lang}") for lang in STOPWORDS]
    best = F.greatest(*hit_cols)
    guess = None
    for lang in STOPWORDS:
        cond = F.col(f"hits_{lang}") == best
        guess = F.when(cond, lang) if guess is None else guess.when(cond, lang)
    return out.select(
        id_col,
        *[f"hits_{lang}" for lang in STOPWORDS],
        F.when(best > 0, guess).otherwise(F.lit("unknown")).alias("lang_guess"),
    )


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Quality scoring: length, token stats, punctuation/stopword ratios —
    the standard cheap pre-filters of an LLM data pipeline.  The token
    array is staged as an attribute so its four references don't each
    re-run the split+normalize (SCALING.md lambda-capture note)."""
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(text_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("_toks"),
    )
    text = F.col(text_col)
    toks = F.col("_toks")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    mult = 1000000.0
    avg_word_len = F.floor(
        (n_chars - n_tokens + 1).cast("double") / n_tokens * mult + 0.5
    ) / mult
    return staged.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        avg_word_len.alias("avg_word_len"),
        # empty text: punct_ratio NULL, not an ANSI DIVIDE_BY_ZERO crash
        # (n_tokens is never 0 — split("", " ") yields [""] — so the
        # token-denominator ratios need no guard)
        F.when(
            n_chars > 0, F.floor(n_punct.cast("double") / n_chars * mult + 0.5) / mult
        ).alias("punct_ratio"),
        (F.floor(n_stop.cast("double") / n_tokens * mult + 0.5) / mult).alias("stopword_ratio"),
    )


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex token count
    (approximates LLM token budgeting at ingest)."""
    text = F.col(text_col)
    return ensure_parallelism(df).select(
        F.col(id_col),
        F.size(F.split(F.trim(text), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)).alias("bpe_tokens"),
        F.length(text).alias("n_chars"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set (an
    order-independent content signature; near-dup docs with identical
    vocabulary collide — by design, like shingle fingerprinting)."""
    joined = F.array_join(
        F.sort_array(F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))),
        " ",
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), joined.alias("_fp"))
        .select(
            F.col(id_col),
            F.md5("_fp").alias("fingerprint"),
            F.sha2(F.col("_fp"), 256).alias("fingerprint_sha"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_size: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Sequence chunking: split each document into fixed-size token windows
    with overlap — the pre-tokenization packing step of an LLM data pipeline
    (context-window-sized pieces, overlapping so no boundary context is
    lost).

    One ``posexplode`` over computed chunk starts; no UDFs, no shuffle —
    chunking is embarrassingly parallel per document, so output partitioning
    follows input partitioning at any scale.  Chunk starts stride by
    ``chunk_size - overlap``; the final chunk is allowed to be short.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = F.split(normalized_text(F.col(text_col)), " ")
    starts = F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
    return (
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
                F.slice(F.col("_toks"), F.col("_start") + 1, chunk_size), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_size), F.size("_toks") - F.col("_start")
            ).alias("n_tokens"),
        )
    )


def content_defined_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int = 3,
    mask: int = 16,
    max_tokens: int = 64,
) -> DataFrame:
    """X90 content-defined chunking (the CDC idea behind FastCDC/rsync,
    applied at token level): cut AFTER token i whenever the rolling hash of
    the last ``window`` tokens lands in the boundary class (weighted sum of
    the per-token md5_32 hashes, ``Σ h(tok)·31^k % mask == 0``), then
    hard-split any span longer than ``max_tokens``.  Unlike fixed-stride
    chunking, boundaries are a function of LOCAL CONTENT, so inserting or
    deleting a sentence re-aligns every later chunk instead of shifting all
    of them — downstream exact/near dedup of chunks then still matches the
    unchanged regions (the dedup-stable chunking a crawl re-scrape pipeline
    needs; expected chunk length ≈ ``mask`` tokens).

    Row-local end-to-end: boundary hashing, cut assembly and span splitting
    are array expressions per document — no UDF, no shuffle, output
    partitioning follows input partitioning at any corpus size.  The
    per-token md5_32 hashes make the whole operator engine-portable (DuckDB
    recomputes every boundary bit for bit), and the Gear-style combine is
    the scale shape: ONE md5 per TOKEN staged up front, then every boundary
    test is a handful of integer ops — the original
    one-string-hash-per-POSITION form re-joined and re-hashed the window at
    every candidate (measured 106 s for the sf0.1 corpus vs ~16 s rolling).

    Staging note: select boundaries alone do NOT stage the derived arrays —
    CollapseProject merges the projections and inlines the tokens→hashes→cuts
    expression chain into the span/render lambdas, and predicate pushdown
    copies it into the inferred ``size(_chunks) > 0`` scan filter —
    re-evaluating it per array ELEMENT (measured 156 s for 500 docs at
    sf0.001).  A :func:`~..sources.star.stage_barrier` (nondeterministic
    identity fence) after the cuts projection pins ``_toks``/``_cuts``/
    ``_n`` as bound attributes for every downstream lambda and filter
    (same shape: ~2 s; sf0.1: ~1.1 s — see BENCH_DETAIL)."""
    if window < 1 or mask < 1 or max_tokens < 1:
        raise ValueError("window, mask and max_tokens must be >= 1")
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = (
        ensure_parallelism(df)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_toks"))
    )
    h32 = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")  # noqa: E731
    staged = staged.select(
        F.col(id_col), "_toks", F.transform(F.col("_toks"), h32).alias("_th")
    )
    n = F.size("_toks")
    # candidate boundary positions i (0-based, cut goes AFTER token i):
    # i >= window-1 so a full window exists, i <= n-2 so no empty last chunk
    cand = F.when(
        n - 2 >= window - 1, F.sequence(F.lit(window - 1), n - 2)
    ).otherwise(F.array().cast("array<int>"))
    # weights mod 2^20 keep h*weight + ... far inside long range for any
    # window width; identical literals bake into the oracle
    weights = [pow(31, window - 1 - off, 1 << 20) for off in range(window)]

    def _wsum(i: F.Column) -> F.Column:
        parts = [
            F.element_at(F.col("_th"), (i - (window - 1) + off + 1).cast("int"))
            * F.lit(weights[off])
            for off in range(window)
        ]
        return sum(parts[1:], parts[0])

    bpos = F.filter(cand, lambda i: F.pmod(_wsum(i), F.lit(mask)) == 0)
    # stage_barrier: without the fence the md5-chain _cuts expression is
    # re-inlined into the span lambdas (CollapseProject) AND into the
    # size(_chunks)>0 filter that InferFiltersFromGenerate pushes to the
    # scan, re-evaluating it per array element — measured 156 s vs ~2 s for
    # 500 docs at sf0.001
    with_cuts = stage_barrier(
        staged.select(
            F.col(id_col),
            "_toks",
            n.alias("_n"),
            F.concat(
                F.array(F.lit(0).cast("int")),
                F.transform(bpos, lambda i: (i + 1).cast("int")),
            ).alias("_cuts"),
        ),
        "_toks",
        "_n",
        "_cuts",
    )
    # spans between consecutive cuts, each hard-split at max_tokens strides
    ncuts = F.size("_cuts")
    sub_starts = F.flatten(
        F.transform(
            F.sequence(F.lit(0), ncuts - 1),
            lambda idx: F.transform(
                F.sequence(
                    F.element_at(F.col("_cuts"), idx + 1),
                    F.when(idx + 1 < ncuts, F.element_at(F.col("_cuts"), idx + 2))
                    .otherwise(F.col("_n"))
                    - 1,
                    F.lit(max_tokens),
                ),
                lambda s: F.struct(
                    s.alias("st"),
                    F.least(
                        F.when(idx + 1 < ncuts, F.element_at(F.col("_cuts"), idx + 2))
                        .otherwise(F.col("_n")),
                        s + max_tokens,
                    ).alias("en"),
                ),
            ),
        )
    )
    # Chunk text is rendered INSIDE the per-row array transform, so only
    # finished (chunk_text, n_tokens) structs cross the explode; _toks and
    # _cuts are bound attributes here (stage_barrier above), so each
    # lambda body is a handful of integer ops plus one slice
    chunks_arr = F.transform(
        sub_starts,
        lambda sp: F.struct(
            F.array_join(
                F.slice(F.col("_toks"), sp["st"] + 1, sp["en"] - sp["st"]), " "
            ).alias("chunk_text"),
            (sp["en"] - sp["st"]).cast("int").alias("n_tokens"),
        ),
    )
    return (
        with_cuts.where(F.col("_n") >= 1)
        .select(F.col(id_col), chunks_arr.alias("_chunks"))
        .select(F.col(id_col), F.posexplode("_chunks").alias("chunk_idx", "_c"))
        .select(
            id_col,
            "chunk_idx",
            F.col("_c.chunk_text").alias("chunk_text"),
            F.col("_c.n_tokens").alias("n_tokens"),
        )
    )


#: PII patterns scrubbed by :func:`redact_pii` — email, E.164-ish / US phone,
#: IPv4, and 13-16-digit card-like numbers.  Deliberately conservative regexes
#: (high precision) — a production pipeline layers a learned NER pass on top;
#: these are the deterministic regex tier every corpus pipeline runs first.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # country code only with a literal '+'; \b inside the optional '(' keeps
    # (555) forms matching while the trailing \b stops the pattern matching
    # the first 10 digits of a longer (card-like) digit run.  RE2-compatible:
    # no lookaround, so the same pattern runs on DuckDB for the oracle.
    ("phone", r"(\+\d{1,3}[-. ]?)?\(?\b\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("card", r"\b\d{13,16}\b", "<CARD>"),
]


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """PII scrubbing: regex-redact emails/phones/IPs/card-like numbers and
    count the hits per class — the compliance gate of a training-data
    pipeline.  Chained ``regexp_replace`` stays in whole-stage codegen
    (row-local, shuffle-free); counts come from ``regexp_count`` on the
    ORIGINAL text so the redaction is auditable."""
    text = F.col(text_col)
    redacted = text
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(text, F.lit(pat)).alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pat, token)
    return ensure_parallelism(df).select(
        F.col(id_col), redacted.alias("redacted_text"), *counts
    )


def repetition_scores(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Within-document repetition: fraction of duplicate tokens and duplicate
    word n-grams — the classic boilerplate/spam signal (templated or
    looping text scores high; clean prose scores low).  Pure array
    expressions per row: no explode, no shuffle.

    The token array is STAGED through its own projection so the gram
    lambda and the four ratio references capture an attribute, not the
    split+normalize expression tree — a lambda-captured expression is
    inlined per element, an O(grams × tokens) per-row re-evaluation
    (measured 1.5x on this operator; see SCALING.md lambda-capture note).
    """
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    mult = 1000000.0

    def dup_ratio(arr: F.Column) -> F.Column:
        total = F.size(arr)
        uniq = F.size(F.array_distinct(arr))
        return F.floor((total - uniq).cast("double") / total * mult + 0.5) / mult

    return staged.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        dup_ratio(toks).alias("dup_token_ratio"),
        dup_ratio(grams).alias(f"dup_{n}gram_ratio"),
    )


def gram_array(toks: F.Column, n: int) -> F.Column:
    """Word n-gram array from a token array — row-local.
    NB: a plain 1-arg lambda — ``lambda i, n=n`` would make PySpark pick
    transform's two-arg (element, index) form and bind n to the index."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def modal_coverage_chars(grams: F.Column) -> F.Column:
    """Chars covered by the modal gram = max over grams of count(g)*len(g).
    Computed as sort + run-length fold — O(g log g) per doc, where the
    naive distinct×filter scan is O(u·g) and blows up on long documents
    (26 s vs <1 s for the sf0.1 corpus).  Fold state: (prev gram, current
    run length, best covered-chars so far)."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: F.Column, x: F.Column) -> F.Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run * F.length(x)).alias("best"),
        )

    return F.aggregate(F.array_sort(grams), zero, step, lambda acc: acc["best"])


def top_ngram_coverage(
    df: DataFrame, text_col: str, id_col: str, *, ns: tuple[int, ...] = (2, 3, 4)
) -> DataFrame:
    """Gopher-rule repetition signal (Rae et al. 2021 §A1.1, public): per
    document, the fraction of characters covered by the single most frequent
    word n-gram, for each n in ``ns`` — templated/boilerplate text
    concentrates its characters in one repeated phrase; prose doesn't.

    coverage_n = max over n-grams g of (count(g) * len(g)) /
    len(normalized_text).  Pure higher-order array expressions per row —
    sort + run-length fold, O(g log g) within one document, no explode, NO
    shuffle — the same zero-shuffle posture as :func:`repetition_scores`,
    so at 100 TB this is a map-only pass fused into the scan.  The token
    array and normalized length are staged as attributes: inlined into the
    three gram lambdas they would re-run split+normalize once per gram
    element per n (SCALING.md lambda-capture note)."""
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.length(normalized_text(F.col(text_col))).alias("_nlen"),
        F.split(normalized_text(F.col(text_col)), " ").alias("_toks"),
    )
    mult = 1000000.0
    cols = [F.col(id_col)]
    for n in ns:
        covered = modal_coverage_chars(gram_array(F.col("_toks"), n))
        # empty-text guard OUTSIDE the least(): ANSI makes x/0 a runtime
        # error, and least() SKIPS nulls, so a null-producing inner guard
        # would silently report 1.0 for an empty doc instead of NULL
        ratio = F.when(
            F.col("_nlen") > 0,
            F.least(covered.cast("double") / F.col("_nlen"), F.lit(1.0)),
        )
        cols.append((F.floor(ratio * mult + 0.5) / mult).alias(f"top_{n}gram_char_ratio"))
    return staged.select(*cols)


def token_ngrams(df: DataFrame, text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """Explode each document into its word n-grams (one row per gram).
    Documents shorter than ``n`` tokens produce no rows.  Explode is
    row-local — no shuffle; downstream joins/aggregations decide the
    partitioning."""
    staged = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.split(normalized_text(F.col(text_col)), " ").alias("_tk"))
        .filter(F.size("_tk") >= n)
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_tk") - n),
        lambda i: F.array_join(F.slice(F.col("_tk"), i + 1, n), " "),
    )
    # explode_outer: see shingles() — a pushed inferred filter would inline
    # the gram expression and re-evaluate the split per gram element
    return staged.select(F.col(id_col), F.explode_outer(grams).alias("gram")).filter(
        F.col("gram").isNotNull()
    )


def contamination_counts(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing word
    n-grams with a held-out evaluation set (the standard pre-training
    hygiene check — e.g. Brown et al. 2020 §C used 13-gram overlap).

    Shape at 100 TB: the eval side is tiny (benchmarks are KBs-to-MBs), so
    the distinct eval-gram set is BROADCAST and the train side never
    shuffles on the gram — one row-local explode, a broadcast-hash
    semi-ish join, then a single aggregation back on the document id.
    Grams are compared via ``md5`` so join width stays 32 bytes regardless
    of n.  Returns only contaminated docs: (id, n_hits = distinct shared
    grams, n_grams = distinct grams in the doc).
    """
    t_grams = token_ngrams(train, text_col, id_col, n).select(
        F.col(id_col), F.md5(F.col("gram")).alias("gh")
    )
    e_grams = (
        token_ngrams(eval_df, text_col, id_col, n)
        .select(F.md5(F.col("gram")).alias("gh"))
        .distinct()
    )
    hit = F.broadcast(e_grams.withColumn("_hit", F.lit(1)))
    return (
        t_grams.join(hit, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count_distinct(F.when(F.col("_hit") == 1, F.col("gh"))).alias("n_hits"),
            F.count_distinct("gh").alias("n_grams"),
        )
        .filter(F.col("n_hits") > 0)
    )


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF.  The score is
    the log-free monotone form ``floor(tc * N * 1e6 / (doc_len * df))`` —
    exact integer products and one IEEE division, so it hashes identically
    across engines (``ln`` differs in the last ulp between libm builds;
    swapping the log variant back in is a one-line change when cross-engine
    hashing isn't needed).

    Scale shape: one shuffle to (doc, term) counts, one vocabulary-keyed
    aggregation for document frequency (stopword terms are hot keys — AQE
    skew-join handles the join back), and a broadcast 1-row corpus count.
    No driver-side collect."""
    from pyspark.sql import Window

    toks = F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term")
    tf = (
        ensure_parallelism(df)
        .select(F.col(id_col), toks)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tc").alias("dlen"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.floor(
        F.col("tc") * F.col("n_docs") * 1000000.0 / (F.col("dlen") * F.col("dfreq"))
    ).cast("long")
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        tf.join(dl, id_col)
        .join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(id_col, "term", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


#: Ordered rule names of :func:`quality_funnel` (order = evaluation order —
#: attribution assigns each dropped doc to the FIRST rule it fails).
FUNNEL_RULES = ("min_tokens", "max_dup_tokens", "max_top2gram", "lang_known")


def quality_funnel(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """X35 quality-filter funnel with per-rule attribution (the FineWeb-style
    "how much did each filter remove" observability layer, public): evaluate
    the ordered rule chain per document and record, besides the final
    ``keep``, WHICH rule dropped each casualty (``first_failed``) — the
    evidence a curation run needs to publish its per-filter removal stats.

    Rules (all row-local expressions over ONE scan, no Python, no shuffle):
    min token count, duplicate-token ratio cap, Gopher top-2-gram char
    coverage cap, stopword-hit language known.  Output: one row per doc with
    a boolean per rule + keep + first_failed (NULL for kept docs)."""
    norm = normalized_text(F.col(text_col))
    toks = F.split(norm, " ")
    n_toks = F.size(toks)
    dup_ratio = (n_toks - F.size(F.array_distinct(toks))).cast("double") / n_toks
    # empty-text guard: ANSI x/0 errors; an empty doc has zero 2-gram
    # coverage (0.0, not NULL — a NULL rule verdict would silently pass
    # the ~rule first_failed chain)
    cov2 = F.when(
        F.length(norm) > 0,
        F.least(
            modal_coverage_chars(gram_array(toks, 2)).cast("double") / F.length(norm),
            F.lit(1.0),
        ),
    ).otherwise(0.0)
    hits = [ _stopword_hits(toks, ws) for ws in STOPWORDS.values() ]
    rules = {
        "min_tokens": n_toks >= 10,
        "max_dup_tokens": dup_ratio <= 0.6,
        "max_top2gram": cov2 <= 0.5,
        "lang_known": F.greatest(*hits) > 0,
    }
    assert tuple(rules) == FUNNEL_RULES
    first_failed = F.lit(None).cast("string")
    for name in reversed(FUNNEL_RULES):
        first_failed = F.when(~rules[name], F.lit(name)).otherwise(first_failed)
    out = [F.col(id_col)]
    out += [rules[name].alias(f"r_{name}") for name in FUNNEL_RULES]
    out += [first_failed.isNull().alias("keep"), first_failed.alias("first_failed")]
    return ensure_parallelism(df).select(*out)


def funnel_report(funnel: DataFrame) -> DataFrame:
    """Funnel rollup of :func:`quality_funnel`: per rule (in evaluation
    order), how many docs REACHED it (survived all earlier rules) and how
    many it dropped.  ONE aggregate scan exploded to per-rule rows (the
    quality_checks.py single-scan pattern); drop_rate = dropped/reached,
    rounded for engine independence."""
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for name in FUNNEL_RULES:
        aggs.append(
            F.sum(F.when(F.col("first_failed") == name, 1).otherwise(0)).alias(
                f"drop_{name}"
            )
        )
    row = funnel.agg(*aggs)
    mult = 1000000.0
    sections = []
    reached = F.col("n_total")
    for i, name in enumerate(FUNNEL_RULES):
        dropped = F.col(f"drop_{name}")
        sections.append(
            F.struct(
                F.lit(i + 1).alias("rule_order"),
                F.lit(name).alias("rule"),
                reached.cast("long").alias("n_reached"),
                dropped.cast("long").alias("n_dropped"),
                (F.floor(dropped / reached * mult + 0.5) / mult).alias("drop_rate"),
            )
        )
        reached = reached - dropped
    return row.select(
        F.explode(F.array(*sections)).alias("s")
    ).select("s.rule_order", "s.rule", "s.n_reached", "s.n_dropped", "s.drop_rate")


def train_bigram_lm(
    df: DataFrame,
    text_col: str,
    *,
    top_k: int | None = None,
) -> dict:
    """X42 CCNet-style quality model: an interpolated add-one bigram LM
    trained on the corpus itself (Wenzek et al. 2020 filter perplexity with
    a KenLM 5-gram; the bigram form keeps the model literal-bakeable).

    Counts are distributed aggregates; only the (optionally top_k-capped,
    count-desc word-asc deterministic) count tables come to the driver --
    the model size is bounded by the PARAMETER, the bounded-collect
    justification of the IVF/Bloom patterns.  Returns {"uni": {...},
    "bi": {...}, "n_tokens": N, "vocab": V}."""
    from .dedup import normalized_text

    toks = F.split(normalized_text(F.col(text_col)), " ")
    words = ensure_parallelism(df).select(F.explode(toks).alias("w")).filter(
        F.length("w") > 0
    )
    uq = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    if top_k:
        uq = uq.orderBy(F.col("n").desc(), "w").limit(top_k)
    uni = {r["w"]: int(r["n"]) for r in uq.collect()}
    # staged select: the pair transform's lambda must index a BOUND token
    # column — an inlined split expression re-evaluates per pair element
    # (no CSE inside interpreted higher-order lambdas), an O(tokens²) trap
    staged = (
        ensure_parallelism(df)
        .select(toks.alias("_tk"))
        .filter(F.size("_tk") >= 2)
    )
    pairs_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_tk") - 2, F.lit(0))),
        lambda i: F.struct(
            F.element_at(F.col("_tk"), i + 1).alias("a"),
            F.element_at(F.col("_tk"), i + 2).alias("b"),
        ),
    )
    bq = (
        staged.select(F.explode_outer(pairs_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if top_k:
        bq = bq.orderBy(F.col("n").desc(), "a", "b").limit(top_k)
    bi = {(r["a"], r["b"]): int(r["n"]) for r in bq.collect()}
    return {
        "uni": uni,
        "bi": bi,
        "n_tokens": sum(uni.values()),
        "vocab": len(uni),
    }


def perplexity_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: dict,
) -> DataFrame:
    """X42 scoring: per-document bigram perplexity under ``model`` --
    exp(-mean ln p(w_i | w_{i-1})) with interpolated add-one smoothing
    p(w|prev) = (c(prev,w) + (c(w)+1)/(N+V)) / (c(prev) + 1).

    The model ships as LITERAL maps inside the expression (size bounded by
    the training top_k), so scoring is row-local and shuffle-free; at a
    vocabulary too big to bake, swap the literal maps for a broadcast join
    on the bigram key -- the formula and outputs are unchanged.  Low
    perplexity = in-distribution text; the classic CCNet cut keeps the
    low/middle perplexity bands.  Docs with <2 tokens score NULL."""
    from .dedup import normalized_text

    uni, bi = model["uni"], model["bi"]
    n_tok, vocab = model["n_tokens"], model["vocab"]
    # map_from_arrays over two fast_lit json literals: F.lit(list) is
    # STILL one py4j round-trip per element (~1.3 ms each — minutes at the
    # 50k default top_k); from_json(lit(json)) ships the vocabulary as one
    # string and constant-folds to the identical literal (functions/fastlit)
    uni_map = (
        F.map_from_arrays(
            lit_strings(list(uni.keys())),
            lit_doubles(uni.values()),
        )
        if uni
        else F.create_map().cast("map<string,double>")
    )
    bi_map = (
        F.map_from_arrays(
            lit_strings([a + "\u0001" + b for (a, b) in bi.keys()]),
            lit_doubles(bi.values()),
        )
        if bi
        else F.create_map().cast("map<string,double>")
    )
    # staged token column: an inlined split under the per-pair lambda would
    # re-evaluate per element (see train_bigram_lm) — O(tokens²) per doc
    staged = ensure_parallelism(df).select(
        F.col(id_col), F.split(normalized_text(F.col(text_col)), " ").alias("_tk")
    )
    toks = F.col("_tk")
    pair_logps = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: (
            F.log(
                (
                    F.coalesce(
                        F.element_at(
                            bi_map,
                            F.concat(
                                F.element_at(toks, i + 1),
                                F.lit("\u0001"),
                                F.element_at(toks, i + 2),
                            ),
                        ),
                        F.lit(0.0),
                    )
                    + (
                        F.coalesce(F.element_at(uni_map, F.element_at(toks, i + 2)), F.lit(0.0))
                        + 1.0
                    )
                    / float(n_tok + vocab)
                )
                / (
                    F.coalesce(F.element_at(uni_map, F.element_at(toks, i + 1)), F.lit(0.0))
                    + 1.0
                )
            )
        ),
    )
    mult = 1e6
    # decimal-accumulate the per-pair log-probs (terms are engine-identical
    # doubles; only fold order would differ between engines)
    dec = "decimal(28,12)"
    mean_logp = (
        F.aggregate(
            F.transform(pair_logps, lambda x: x.cast(dec)),
            F.lit(0).cast(dec),
            lambda a, x: (a + x).cast(dec),
        ).cast("double")
        / F.size(pair_logps)
    )
    ppl = F.when(F.size(toks) >= 2, F.exp(-mean_logp))
    return staged.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        (F.floor(ppl * mult + 0.5) / mult).alias("perplexity"),
    )


def train_bigram_lm_df(
    df: DataFrame,
    text_col: str,
    *,
    top_k: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """X42 training, fully distributed: the count tables STAY DataFrames —
    nothing reaches the driver at any vocabulary size.  Returns
    ``(uni_df(w, n), bi_df(a, b, n))``; pair with
    :func:`perplexity_scores_join`.  ``top_k`` (count-desc, word-asc
    deterministic) keeps the broadcast sides bounded; ``None`` is legal here
    because the model never leaves the cluster."""
    from .dedup import normalized_text

    toks = F.split(normalized_text(F.col(text_col)), " ")
    words = ensure_parallelism(df).select(F.explode(toks).alias("w")).filter(
        F.length("w") > 0
    )
    uni_df = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    if top_k:
        uni_df = uni_df.orderBy(F.col("n").desc(), "w").limit(top_k)
    staged = (
        ensure_parallelism(df)
        .select(toks.alias("_tk"))
        .filter(F.size("_tk") >= 2)
    )
    pairs_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_tk") - 2, F.lit(0))),
        lambda i: F.struct(
            F.element_at(F.col("_tk"), i + 1).alias("a"),
            F.element_at(F.col("_tk"), i + 2).alias("b"),
        ),
    )
    bi_df = (
        staged.select(F.explode_outer(pairs_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if top_k:
        bi_df = bi_df.orderBy(F.col("n").desc(), "a", "b").limit(top_k)
    return uni_df, bi_df


def perplexity_scores_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    uni_df: DataFrame,
    bi_df: DataFrame,
) -> DataFrame:
    """X42 scoring, broadcast-join variant: the model arrives as the two
    count DATAFRAMES from :func:`train_bigram_lm_df` — no driver collect, no
    plan-size growth with vocabulary.  Pairs left-join ``broadcast(bi_df)``
    on the bigram key and ``broadcast(uni_df)`` on each side word; per-pair
    log-probs use the exact literal-path expression shape (same double op
    order, same ``decimal(28,12)`` accumulation, decimal addition is exact so
    groupBy-sum order cannot diverge), so this is RESULT-IDENTICAL to
    :func:`perplexity_scores` given the same (capped) model — pinned by
    ``tests/test_curation.py`` parity.

    100 TB shape: three broadcast hash joins + one groupBy(id) shuffle of
    (id, decimal) pair rows; corpus text never shuffles.  If the capped model
    outgrows broadcast, the same plan degrades gracefully to shuffle joins
    keyed on the bigram — semantics unchanged."""
    from .dedup import normalized_text

    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = ensure_parallelism(df).select(
        F.col(id_col), toks.alias("_tk")
    )
    # n_tokens/vocab come from the SAME capped table the literal path sums
    stats = uni_df.agg(
        F.sum("n").cast("double").alias("_n_tok"),
        F.count(F.lit(1)).cast("double").alias("_vocab"),
    )
    pairs = (
        base.filter(F.size("_tk") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("_tk"), i + 1).alias("a"),
                        F.element_at(F.col("_tk"), i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        .select(F.col(id_col), F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    j = (
        pairs.join(
            F.broadcast(bi_df.select("a", "b", F.col("n").alias("_bc"))),
            ["a", "b"],
            "left",
        )
        .join(
            F.broadcast(uni_df.select(F.col("w").alias("a"), F.col("n").alias("_uac"))),
            "a",
            "left",
        )
        .join(
            F.broadcast(uni_df.select(F.col("w").alias("b"), F.col("n").alias("_ubc"))),
            "b",
            "left",
        )
        .crossJoin(F.broadcast(stats))
    )
    dec = "decimal(28,12)"
    lp = F.log(
        (
            F.coalesce(F.col("_bc").cast("double"), F.lit(0.0))
            + (F.coalesce(F.col("_ubc").cast("double"), F.lit(0.0)) + 1.0)
            / (F.col("_n_tok") + F.col("_vocab"))
        )
        / (F.coalesce(F.col("_uac").cast("double"), F.lit(0.0)) + 1.0)
    ).cast(dec)
    sums = j.groupBy(id_col).agg(F.sum(lp).alias("_slp"))
    mult = 1e6
    n_tok_col = F.size("_tk")
    mean_logp = F.col("_slp").cast("double") / (n_tok_col - 1)
    ppl = F.when(n_tok_col >= 2, F.exp(-mean_logp))
    return base.join(sums, id_col, "left").select(
        F.col(id_col),
        n_tok_col.alias("n_tokens"),
        (F.floor(ppl * mult + 0.5) / mult).alias("perplexity"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """X43 winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm), word-gram variant: hash every
    k-token gram (first 8 md5 hex digits → 32-bit int), then keep the MIN
    hash of each sliding length-``window`` hash window; the distinct-sorted
    selection is the document's fingerprint set.

    The winnowing guarantee: two documents sharing a token run of at least
    ``window + k - 1`` tokens share at least one fingerprint — unlike the
    whole-doc :func:`fingerprint`, this detects PARTIAL overlap (the
    copied-paragraph case), with density ~2/(window+1) of all grams.

    100 TB shape: entirely row-local array expressions — no shuffle, no
    UDF, output partitioning follows input.  Docs shorter than ``k`` tokens
    get an empty set; docs with fewer than ``window`` grams keep all their
    gram hashes (degenerate winnow).

    Each array stage is a separate ``select`` so the lambdas below read a
    BOUND column: an expression referenced inside a ``transform`` lambda is
    re-evaluated per element (no CSE for interpreted higher-order funcs),
    so inlining the md5-array expression under the window-min transform
    made fingerprinting O(n_grams²) md5 calls per document — measured ~5 s
    for 500 docs before staging, sub-second after."""
    from .dedup import normalized_text

    toks = ensure_parallelism(df).select(
        F.col(id_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("_tk"),
    )
    # Each lambda family is ONE SQL-expression text: the same expression
    # tree as the Column API builds, in one py4j round trip per projection
    # instead of one per ``functions.*`` call.
    n_grams = f"greatest(size(_tk) - {k - 1}, 0)"
    gram_hashes = (
        f"transform(sequence(1, greatest({n_grams}, 1)), i -> cast(conv(substring("
        f"md5(array_join(slice(_tk, i, {k}), ' ')), 1, 8), 16, 10) as bigint))"
    )
    hashed = toks.select(
        F.col(id_col),
        F.expr(n_grams).alias("n_grams"),
        F.expr(
            f"CASE WHEN {n_grams} >= 1 THEN {gram_hashes} ELSE cast(array() as array<bigint>) END"
        ).alias("_h"),
    )
    n_windows = f"greatest(size(_h) - {window - 1}, 0)"
    winnowed = (
        f"transform(sequence(1, greatest({n_windows}, 1)), "
        f"i -> array_min(slice(_h, i, {window})))"
    )
    staged = hashed.select(
        F.col(id_col),
        "n_grams",
        F.expr(
            f"array_sort(array_distinct(CASE WHEN {n_windows} >= 1 THEN {winnowed} ELSE _h END))"
        ).alias("fingerprints"),
    )
    # stage_barrier on the OUTPUT column, not just select staging: the
    # operator's own consumers dodge the lambda-capture class with
    # explode_outer (no size()>0 inference), but any API caller writing a
    # plain explode over `fingerprints` gets InferFiltersFromGenerate +
    # CollapseProject re-inlining the full two-level md5/window chain per
    # element — measured as an effective hang (>9 min for 5k docs vs 0.6 s
    # fenced).  The fence makes the column a bound attribute for every
    # downstream shape.
    staged = stage_barrier(staged, "fingerprints")
    return staged.select(
        F.col(id_col),
        "n_grams",
        "fingerprints",
        F.size("fingerprints").alias("n_fingerprints"),
    )


def winnow_candidates(
    fps: DataFrame,
    id_col: str,
    *,
    min_shared: int = 2,
    max_bucket_size: int = 200,
) -> DataFrame:
    """X43 candidate pairs from winnowing fingerprints: explode the
    fingerprint sets and self-join on the fingerprint value — each shared
    fingerprint is evidence of a shared ≥(window+k-1)-token run, and
    ``min_shared`` of them promote a pair to near-dup candidate (the MOSS
    match step, distributed).

    100 TB shape: one shuffle on the fingerprint value (the bucket key,
    like the LSH band join); buckets larger than ``max_bucket_size`` are
    dropped BEFORE the join — a stop-fingerprint that frequent (boilerplate
    headers, license blocks) is evidence of nothing and would square the
    join (same skew cap + printed-justification pattern as dedup LSH).
    Output: (id_a, id_b, n_shared) — downstream exact-verify is cheap
    because candidates are few."""
    # explode_outer: see winnow_fingerprints — the inferred size()>0 filter
    # otherwise re-derives the whole fingerprint expression per element
    e = fps.select(
        F.col(id_col).alias("_id"), F.explode_outer("fingerprints").alias("fp")
    ).filter(F.col("fp").isNotNull())
    # ONE aggregation per fingerprint collects the bucket's member ids (the
    # cap bounds the list at max_bucket_size, so a row is small by
    # construction) and pairs are expanded ROW-LOCALLY from the sorted
    # list — replacing the bucket-count aggregate + membership join + fp
    # self-join, which shuffled the exploded fingerprint stream three more
    # times to produce exactly these pairs (guide §2.1/§3.4: same bucketed
    # pair universe, 2 exchanges instead of 5).  _bucket counts ROWS (like
    # the old count(*)) while collect_list drops NULL ids (like the old
    # id_a < id_b filter), keeping both cap and pair semantics identical.
    buckets = (
        e.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("_bucket"),
            F.array_sort(F.collect_list("_id")).alias("_ids"),
        )
        .filter(F.col("_bucket") <= max_bucket_size)
    )
    # ids are distinct within a bucket (fingerprint sets are per-doc
    # distinct) and sorted ascending, so j > i already means id_b > id_a
    pairs = buckets.select(
        F.expr(
            "explode(flatten(transform(_ids, (a, i) -> transform("
            "slice(_ids, i + 2, size(_ids)), b -> struct(a AS id_a, b AS id_b)))))"
        ).alias("_p")
    )
    return (
        pairs.select("_p.id_a", "_p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: list[tuple[str, list[str]]],
    *,
    topk: int = 10,
) -> DataFrame:
    """X44 BM25 lexical retrieval (Robertson & Zaragoza 2009; Lucene's
    non-negative idf ``ln(1 + (N - df + .5)/(df + .5))``) for a bounded
    query panel — the keyword-search face of a corpus engine, and the
    lexical complement of the embedding ANN operators.

    100 TB shape: the only corpus-wide work is one projection + explode
    FILTERED map-side to the panel's term set, so the (doc, term) shuffle
    carries only panel-term hits; document length rides along in the same
    pass (no second corpus join).  Corpus stats (N, total length) and the
    per-term document frequencies are tiny one-row/|terms|-row broadcast
    sides; scoring is a broadcast join + windowed top-k per query.
    Per-term contributions decimal-accumulate so the score is
    fold-order-independent (oracle-checkable).  Output: (query_id, doc_id,
    score, rank<=topk), rank ties broken by doc_id ASC on the ROUNDED
    score for engine determinism."""
    from .dedup import normalized_text

    spark = df.sparkSession
    all_terms = sorted({t for _, ts in queries for t in ts})
    # dedupe (query, term) pairs: a term listed twice in a panel query would
    # otherwise join twice and silently double its contribution
    qdf = spark.createDataFrame(
        sorted({(qid, t) for qid, ts in queries for t in ts}),
        "query_id STRING, term STRING",
    )
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), toks.alias("_tk")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n_docs"), F.sum(F.size("_tk")).alias("_sum_dl")
    )
    # Per-term counts ROW-LOCALLY (one size(filter(tokens)) per panel term)
    # instead of exploding the whole token stream and hash-aggregating it
    # back: the explode form materialized |corpus tokens| rows and paid a
    # (doc, dl, term) aggregation exchange to count a handful of panel
    # terms (guide §2.3 "aggregate before you shuffle" taken to its limit —
    # here the aggregate never needs the shuffle at all).  Values are
    # identical: size(filter(tk = t)) IS the per-doc term frequency, and
    # docs/terms with zero hits drop out exactly like rows the filter
    # removed.  At corpus scale this turns the first BM25 pass into a pure
    # narrow scan.
    term_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(F.filter(F.col("_tk"), lambda x: x == F.lit(t)))
                .cast("long")
                .alias("_tf"),
            )
            for t in all_terms
        ]
    )
    tf = (
        base.select(
            "doc_id", F.size("_tk").alias("_dl"), F.explode(term_structs).alias("_ts")
        )
        .select(
            "doc_id", "_dl", F.col("_ts.term").alias("term"), F.col("_ts._tf").alias("_tf")
        )
        .filter(F.col("_tf") > 0)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_d = F.col("_n_docs").cast("double")
    avgdl = F.col("_sum_dl").cast("double") / n_d
    idf = F.log((n_d - F.col("_df").cast("double") + 0.5) / (F.col("_df").cast("double") + 0.5) + 1.0)
    tf_d = F.col("_tf").cast("double")
    dl_d = F.col("_dl").cast("double")
    tfn = tf_d * (1.2 + 1.0) / (tf_d + 1.2 * (1.0 - 0.75 + 0.75 * dl_d / avgdl))
    dec = "decimal(28,12)"
    mult = 1e6
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", (idf * tfn).cast(dec).alias("_contrib"))
        .groupBy("query_id", "doc_id")
        .agg(
            (F.floor(F.sum("_contrib").cast("double") * mult + 0.5) / mult).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "doc_id", "score", "rank")
    )


def _gram_digests(k: int) -> F.Column:
    """The distinct ``k``-token gram digests of the token column ``_tk``
    (empty under ``k`` tokens), for :func:`winnow_verify` and
    :func:`winnow_containment`.  16-byte BINARY digests, not 32-char hex
    strings: the verify joins shuffle one gram array per candidate-pair
    side, so key bytes halve the dominant exchange (guide §2.3; the r10
    binary-digest class).  unhex is injective, so intersect/union/
    containment SIZES — the only thing the output reads — are unchanged.
    One SQL text, one py4j round trip (see winnow_fingerprints)."""
    n_grams = f"greatest(size(_tk) - {k - 1}, 0)"
    return F.expr(
        f"CASE WHEN {n_grams} >= 1 THEN array_distinct(transform(sequence(1, greatest({n_grams}, 1)), "
        f"i -> unhex(md5(array_join(slice(_tk, i, {k}), ' '))))) "
        "ELSE cast(array() as array<binary>) END"
    )


def winnow_verify(
    df: DataFrame,
    text_col: str,
    id_col: str,
    candidates: DataFrame,
    *,
    k: int = 5,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """X43 verify stage: EXACT k-gram Jaccard over the candidate pairs from
    :func:`winnow_candidates` — the cheap-candidates → exact-verify
    composition every near-dup pipeline runs (MOSS match confirmation).

    100 TB shape: gram sets are row-local per doc; the joins are driven by
    the CANDIDATE list (tiny after fingerprint bucketing), so gram arrays
    shuffle only for documents that appear in some pair — never the corpus.
    Jaccard = |A∩B| / |A∪B| over distinct gram hashes, rounded before the
    threshold filter so both engines cut on the identical value."""
    from .dedup import normalized_text

    # staged select: the gram transform's lambda must slice a BOUND column
    # (see winnow_fingerprints — an inlined token expression re-evaluates
    # per gram element, turning this row-local pass quadratic)
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_gid"),
        F.split(normalized_text(F.col(text_col)), " ").alias("_tk"),
    )
    gsets = toks.select("_gid", _gram_digests(k).alias("_grams"))
    j = (
        candidates.join(
            gsets.select(F.col("_gid").alias("id_a"), F.col("_grams").alias("_ga")),
            "id_a",
        ).join(
            gsets.select(F.col("_gid").alias("id_b"), F.col("_grams").alias("_gb")),
            "id_b",
        )
    )
    # Intersect ONCE per pair, behind a fence: expressing jaccard directly
    # over array_intersect let PushPredicateThroughJoin substitute the
    # threshold filter into the join CONDITION, where the intersect was
    # re-evaluated ~5x per pair (3x in the condition + 2x in the project —
    # the built-in analog of the duplicated-UDF class; sf1 profile: 90 s of
    # stage CPU for 250k pairs, ~19 s fenced).  n_common_grams is fenced
    # nondeterministic so no rewrite may duplicate or move it; jaccard and
    # the filter then read the BOUND count.
    staged = j.select(
        "id_a",
        "id_b",
        F.col("n_shared"),
        F.size(F.array_intersect("_ga", "_gb")).alias("n_common_grams"),
        (F.size("_ga") + F.size("_gb")).alias("_tot"),
    )
    staged = stage_barrier(staged, "n_common_grams")
    inter = F.col("n_common_grams")
    union = F.col("_tot") - inter
    mult = 1e6
    jac = F.floor(inter.cast("double") / union.cast("double") * mult + 0.5) / mult
    return (
        staged.select(
            "id_a",
            "id_b",
            "n_shared",
            "n_common_grams",
            F.when(union > 0, jac).otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def winnow_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    min_jaccard: float = 0.2,
    max_bucket_size: int = 200,
) -> DataFrame:
    """X43 end to end: winnow fingerprints → bucket-capped candidates →
    exact-Jaccard verify → connected components → (id, canonical_id,
    cluster_size)."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    cand = winnow_candidates(
        fps, id_col, min_shared=min_shared, max_bucket_size=max_bucket_size
    )
    pairs = winnow_verify(df, text_col, id_col, cand, k=k, min_jaccard=min_jaccard)
    canon = cluster_canonical(
        df.select(id_col), pairs.select("id_a", "id_b"), id_col
    )
    sizes = canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return canon.join(sizes, "canonical_id").select(
        id_col, "canonical_id", "cluster_size"
    )


def mine_hard_negatives(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: list[tuple[str, list[str], list[int]]],
    *,
    k_candidates: int = 50,
    n_negatives: int = 5,
) -> DataFrame:
    """X55 hard-negative mining for contrastive/retriever training (the
    DPR recipe, Karpukhin et al. 2020: negatives = top BM25 hits that are
    NOT the labeled positives — lexically confusable, semantically wrong).

    ``queries`` = [(query_id, terms, positive_doc_ids), ...].  One BM25
    pass over the panel (map-side term filter — corpus never shuffles
    beyond panel-term hits), then an anti-filter against the broadcast
    positives and a re-rank to the first ``n_negatives`` — everything
    after retrieval touches |panel|·k rows.  Output: (query_id, doc_id,
    bm25_rank, score, neg_rank)."""
    spark = df.sparkSession
    cand = bm25_topk(
        df, text_col, id_col, [(q, ts) for q, ts, _ in queries], topk=k_candidates
    )
    pos_rows = [(q, int(p)) for q, _, ps in queries for p in ps]
    if pos_rows:
        pos = spark.createDataFrame(pos_rows, "query_id STRING, doc_id LONG")
        cand = cand.join(F.broadcast(pos), ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= n_negatives)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").alias("bm25_rank"),
            "score",
            "neg_rank",
        )
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """X56 unicode normalization — step 0 of every text pipeline: compose
    to NFC (é as one codepoint, not e+combining-acute: exact dedup, shingle
    hashes and tokenizers all disagree across the two encodings of the
    same visible text) and strip C0/DEL control characters (keeping
    tab/newline/CR).

    Normalization itself runs in an Arrow-batched pandas UDF
    (``unicodedata`` — Spark has no built-in normalizer); the standard
    defines a unique result, so it is engine-reproducible and
    oracle-checkable against DuckDB's utf8proc ``nfc_normalize``.  Control
    stripping is a JVM-side regexp.  Output: (id, norm_text,
    changed)."""
    import pandas as pd
    import unicodedata

    def _norm_fn(s):
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    _norm = F.pandas_udf(_norm_fn, returnType="string")
    out = F.regexp_replace(F.col("_nfc"), r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), F.col(text_col).alias("_raw"), _norm(F.col(text_col)).alias("_nfc"))
        .select(
            F.col(id_col),
            out.alias("norm_text"),
            (~out.eqNullSafe(F.col("_raw"))).alias("changed"),
        )
    )


def compression_ratio_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """X57 compression-ratio quality signal (the classic cheap filter used
    alongside Gopher rules: machine-generated or looping text compresses
    far below prose, so a very LOW deflate ratio flags boilerplate and a
    ratio near 1 flags random/encrypted junk).

    One Arrow-batched pandas UDF (zlib at level 6) — map-only, no
    shuffle, only the two lengths come back per row.  Declared rows-only:
    deflate output length is zlib-build-dependent in principle, so no SQL
    oracle; the monotonicity (repetition ⇒ smaller ratio) and bounds are
    pytest-pinned.  Output: (id, n_bytes, n_compressed, compression_ratio
    = compressed/raw rounded 1e-6; empty docs score NULL)."""
    import pandas as pd
    import zlib

    def _fn(s):
        raws, comps = [], []
        for x in s:
            if x is None:
                raws.append(None)
                comps.append(None)
                continue
            raw = x.encode("utf-8")
            raws.append(len(raw))
            comps.append(len(zlib.compress(raw, 6)) if raw else 0)
        return pd.DataFrame({"raw": raws, "comp": comps})

    _c = F.pandas_udf(_fn, returnType="struct<raw:long,comp:long>")
    mult = 1e6
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), _c(F.col(text_col)).alias("_z"))
        .select(
            F.col(id_col),
            F.col("_z.raw").alias("n_bytes"),
            F.col("_z.comp").alias("n_compressed"),
            F.when(
                F.col("_z.raw") > 0,
                F.floor(F.col("_z.comp") / F.col("_z.raw") * mult + 0.5) / mult,
            ).alias("compression_ratio"),
        )
    )


def token_stats_by_group(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """X61 per-group corpus token statistics — the datasheet numbers a
    training-mix designer reads before weighting sources: docs, total
    whitespace tokens, distinct-word vocabulary, type/token ratio (lexical
    richness), mean tokens per doc, and chars per token (script density /
    tokenizer-cost proxy).

    100 TB shape: ONE explode + two aggregates — the distinct-vocabulary
    count shuffles (group, word) pairs (map-side partial-distinct first),
    the rest reduces to |groups| rows.  All ratios derive from exact
    integer sums, so the doubles are engine-identical without decimal
    machinery.  (r10: a hand-written two-level (group, word)→group
    aggregate was measured and reverted — Spark's distinct-aggregate
    rewrite already plans this single-distinct mix as the fused two-level
    shape with NO Expand, so the manual form only added a fourth
    aggregation phase: 0.38 → 0.52 s.)"""
    from .dedup import normalized_text

    mult = 1e6

    def r6(x):
        return F.floor(x * mult + 0.5) / mult

    toks = F.split(normalized_text(F.col(text_col)), " ")
    words = (
        ensure_parallelism(df)
        .select(
            F.col(group_col).alias("group"),
            F.length(text_col).alias("_chars"),
            F.explode(toks).alias("_w"),
        )
        .filter(F.length("_w") > 0)
    )
    per_doc = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length(text_col)).cast("long").alias("n_chars"),
    )
    per_word = words.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("_w").cast("long").alias("n_vocab"),
    )
    return (
        per_doc.join(per_word, "group", "left")
        .select(
            "group",
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_vocab", F.lit(0)).alias("n_vocab"),
            "n_chars",
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                r6(F.col("n_vocab").cast("double") / F.col("n_tokens")),
            ).alias("type_token_ratio"),
            F.when(
                F.col("n_docs") > 0,
                r6(F.coalesce("n_tokens", F.lit(0)).cast("double") / F.col("n_docs")),
            ).alias("tokens_per_doc"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                r6(F.col("n_chars").cast("double") / F.col("n_tokens")),
            ).alias("chars_per_token"),
        )
    )


def strip_html(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """X67 HTML/boilerplate stripping — the ingest step between a raw crawl
    and every text operator here (C4/CCNet both start from extracted text):
    drop <script>/<style> blocks wholesale (their content is code, not
    prose), strip remaining tags, decode the common HTML entities, and
    collapse the whitespace the markup leaves behind.  A regexp extractor
    is deliberately the scope: full DOM parsing belongs to a specialized
    library at the crawler, not the analytics engine — this operator makes
    tag-bearing text safe for quality scoring and dedup, and its output is
    deterministic and oracle-checkable.

    100 TB shape: a chain of JVM-side regexp_replace — row-local, zero
    shuffle, whole-stage codegen.  Output: (id, clean_text, n_raw_chars,
    n_clean_chars, had_markup)."""
    raw = F.col(text_col)
    # case-insensitive script/style blocks (two patterns, not one with a
    # backreference: the DuckDB oracle runs RE2, which has none), then
    # comments, then any remaining tag
    s = F.regexp_replace(raw, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?s)</?[a-zA-Z!][^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
    ):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return ensure_parallelism(df).select(
        F.col(id_col),
        s.alias("clean_text"),
        F.length(raw).alias("n_raw_chars"),
        F.length(s).alias("n_clean_chars"),
        (~s.eqNullSafe(raw)).alias("had_markup"),
    )


def vocabulary_overlap(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """X75 cross-source vocabulary overlap: pairwise Jaccard of the
    distinct-word vocabularies of every group pair — the redundancy matrix
    a mixture designer reads next to the per-source datasheet ("are these
    two crawls the same corpus wearing different names?").

    100 TB shape: ONE word-keyed aggregate — ``collect_set(group)`` per
    word (map-side partial, buffers bounded by |groups|) — and the group
    pairs expand ROW-LOCALLY from each word's sorted group set (the
    winnow-candidates r10 shape), so the former (group, word) DISTINCT
    exchange and the word-keyed self-join exchange are gone entirely: the
    token stream crosses the wire once, and everything after it is
    |vocab|- or |groups|²-sized.  Jaccard from exact integer counts.

    Equivalence with the distinct+self-join form: collect_set dedups
    (group, word) exactly like the distinct did and drops NULL groups
    exactly like the ``group_a < group_b`` join filter did; sort_array +
    (element i, tail slice) enumeration emits each unordered group pair
    once with group_a < group_b under the same binary string ordering the
    join comparison used."""
    from .dedup import normalized_text

    words = (
        ensure_parallelism(df)
        .select(
            F.col(group_col).alias("_g"),
            F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("_w"),
        )
        .filter(F.length("_w") > 0)
    )
    by_word = words.groupBy("_w").agg(F.sort_array(F.collect_set("_g")).alias("_gs"))
    sizes = (
        by_word.select(F.explode("_gs").alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    gs = F.col("_gs")
    n = F.size(gs)
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(gs, i + 1, n),
                lambda g2: F.struct(
                    F.element_at(gs, i).alias("group_a"), g2.alias("group_b")
                ),
            ),
        )
    )
    inter = (
        by_word.filter(n >= 2)
        .select(F.explode(combos).alias("_p"))
        .select(F.col("_p.group_a").alias("group_a"), F.col("_p.group_b").alias("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    mult = 1e6
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("_g").alias("group_a"), F.col("_n").alias("_na"))),
            "group_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_g").alias("group_b"), F.col("_n").alias("_nb"))),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_shared",
            F.col("_na").cast("long").alias("n_vocab_a"),
            F.col("_nb").cast("long").alias("n_vocab_b"),
            (
                F.floor(
                    F.col("n_shared").cast("double")
                    / (F.col("_na") + F.col("_nb") - F.col("n_shared"))
                    * mult
                    + 0.5
                )
                / mult
            ).alias("jaccard"),
        )
    )


def winnow_containment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    candidates: DataFrame,
    *,
    k: int = 5,
    min_containment: float = 0.6,
) -> DataFrame:
    """X80 ASYMMETRIC containment verify over the winnow candidate pairs:
    containment(A⊂B) = |grams_A ∩ grams_B| / |grams_A| — the detector for
    a document CONTAINED in another (quotes, aggregator pages, article +
    comments re-renders), which symmetric Jaccard structurally misses: a
    500-word doc embedded verbatim in a 50 000-word page has Jaccard ≈ 1%
    but containment ≈ 100%.

    Emits the pair when EITHER direction crosses ``min_containment``, with
    both directions and the containment direction label.  Same scale shape
    as :func:`winnow_verify`: gram sets are row-local; joins driven by the
    bucketed candidate list, never the corpus."""
    from .dedup import normalized_text

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_gid"),
        F.split(normalized_text(F.col(text_col)), " ").alias("_tk"),
    )
    gsets = toks.select("_gid", _gram_digests(k).alias("_grams"))
    j = candidates.join(
        gsets.select(F.col("_gid").alias("id_a"), F.col("_grams").alias("_ga")), "id_a"
    ).join(
        gsets.select(F.col("_gid").alias("id_b"), F.col("_grams").alias("_gb")), "id_b"
    )
    # Intersect ONCE per pair, behind a fence — see winnow_verify: the
    # threshold filter otherwise pushes into the join condition and
    # re-evaluates the intersect per disjunct per pair.
    staged = j.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("_ga", "_gb")).alias("n_common_grams"),
        F.size("_ga").alias("_na"),
        F.size("_gb").alias("_nb"),
    )
    staged = stage_barrier(staged, "n_common_grams")
    inter = F.col("n_common_grams")
    mult = 1e6

    def frac(num, den):
        return F.when(
            den > 0, F.floor(num.cast("double") / den.cast("double") * mult + 0.5) / mult
        ).otherwise(F.lit(0.0))

    ca = frac(inter, F.col("_na"))
    cb = frac(inter, F.col("_nb"))
    return (
        staged.select(
            "id_a",
            "id_b",
            "n_common_grams",
            ca.alias("containment_a_in_b"),
            cb.alias("containment_b_in_a"),
            F.when(ca >= cb, "a_in_b").otherwise("b_in_a").alias("direction"),
        )
        .filter(
            (F.col("containment_a_in_b") >= min_containment)
            | (F.col("containment_b_in_a") >= min_containment)
        )
    )


def novelty_scores(
    df: DataFrame,
    ref: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """X83 n-gram novelty vs a reference corpus: fraction of a document's
    DISTINCT word n-grams absent from the reference — the inverse of
    contamination (X11), used to pick genuinely NEW data out of a fresh
    crawl (novelty ≈ 0 means the crawl re-collected what the corpus
    already holds; the dedup-aware acquisition signal).

    Unlike decontamination's tiny benchmark side, the reference here is
    CORPUS-SIZED — so the gram join shuffles BOTH sides on the 32-byte md5
    gram hash (the reference reduces to its distinct gram set first),
    never broadcasts.  One gram-hash shuffle + one doc-key aggregate;
    ratios from exact integer counts.  Docs with fewer than ``n`` tokens
    have no grams: n_grams 0, novelty NULL (not 1.0 — 'no evidence' is
    not 'all new')."""
    # Per-doc distinct gram hashes ROW-LOCALLY (array_distinct before the
    # explode, the shingles() shape) instead of exploding the raw gram
    # stream and paying a corpus-wide DISTINCT exchange on (id, gh): the
    # (id, hash)-distinct set IS the per-doc distinct set, so the doc side
    # drops one full gram-stream shuffle and the ref side's global
    # distinct shrinks its exchange input by the per-doc duplication
    # factor.  Same md5-hash dedup key, same pairs; the key unhexes to
    # 16-byte BINARY (hex is injective — equality unchanged) so the
    # gram-keyed exchanges carry half the key bytes.
    def _doc_gram_hashes(frame: DataFrame) -> DataFrame:
        staged = (
            ensure_parallelism(frame)
            .select(
                F.col(id_col),
                F.split(normalized_text(F.col(text_col)), " ").alias("_tk"),
            )
            .filter(F.size("_tk") >= n)
        )
        ghs = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - n),
                lambda i: F.unhex(
                    F.md5(F.array_join(F.slice(F.col("_tk"), i + 1, n), " "))
                ),
            )
        )
        return staged.select(
            F.col(id_col), F.explode_outer(ghs).alias("gh")
        ).filter(F.col("gh").isNotNull())

    d_grams = _doc_gram_hashes(df)
    r_grams = (
        _doc_gram_hashes(ref)
        .select("gh")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    mult = 1e6
    per = (
        d_grams.join(r_grams, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_seen") == 1, 1).otherwise(0)).cast("long").alias("n_seen"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_seen", F.lit(0)).alias("n_seen"),
            F.when(
                F.col("n_grams") > 0,
                F.floor(
                    (F.col("n_grams") - F.col("n_seen")).cast("double")
                    / F.col("n_grams")
                    * mult
                    + 0.5
                )
                / mult,
            ).alias("novelty"),
        )
    )


def structural_repetition(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Gopher structural-repetition signals (Rae et al. 2021 §A1.1): the
    fraction of LINES (resp. paragraphs) that are duplicates of an earlier
    identical line, by count and by character mass.  Templated pages, nav
    boilerplate, and scraper loops repeat whole lines; clean prose does not
    — these four ratios are the standard line-level complement to the
    n-gram ratios in :func:`repetition_scores`.

    Semantics (per document, empty segments dropped):

    - ``dup_line_ratio``       = (n_lines - n_distinct_lines) / n_lines
    - ``dup_line_char_ratio``  = duplicated character mass / total character
      mass, where the duplicated mass of a line appearing c times is
      (c - 1) · len(line) — algebraically ``total_chars - distinct_chars``,
      so no per-distinct counting loop is needed.
    - same pair for paragraphs (split on blank lines first).

    Documents with no non-empty lines get NULL ratios (nothing to judge —
    the caller's quality gate decides, matching quality_scores' stance).

    Scale: pure per-row array expressions — no explode, no shuffle, stays
    inside whole-stage codegen; a 100 TB corpus is a map-only pass.  The
    segment and distinct-segment arrays are staged through their own
    projections so each stats reference captures an attribute — an
    expression referenced multiple times (or inside a lambda) is inlined
    and re-evaluated per reference (SCALING.md lambda-capture note).
    Reference semantics: Rae et al. 2021 (Gopher) repetition filters; same
    rounding grid as repetition_scores so both engines agree bit-for-bit.
    """
    mult = 1e6

    def segs(sep: str) -> F.Column:
        return F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda s: F.trim(s)),
            lambda s: F.length(s) > 0,
        )

    staged = df.select(
        F.col(id_col),
        segs("\n").alias("_ln"),
        segs("\n\n").alias("_pa"),
    ).select(
        F.col(id_col),
        "_ln",
        "_pa",
        F.array_distinct("_ln").alias("_lnd"),
        F.array_distinct("_pa").alias("_pad"),
    )

    def seg_stats(col: str, dcol: str, prefix: str) -> list[F.Column]:
        n = F.size(col)
        n_distinct = F.size(dcol)
        chars = F.aggregate(
            F.col(col), F.lit(0).cast("long"), lambda acc, s: acc + F.length(s)
        )
        distinct_chars = F.aggregate(
            F.col(dcol), F.lit(0).cast("long"), lambda acc, s: acc + F.length(s)
        )
        grid = lambda x: F.floor(x * mult + 0.5) / mult  # noqa: E731
        return [
            n.cast("long").alias(f"n_{prefix}s"),
            F.when(n > 0, grid((n - n_distinct).cast("double") / n)).alias(
                f"dup_{prefix}_ratio"
            ),
            F.when(
                chars > 0,
                grid((chars - distinct_chars).cast("double") / chars),
            ).alias(f"dup_{prefix}_char_ratio"),
        ]

    return staged.select(
        F.col(id_col),
        *seg_stats("_ln", "_lnd", "line"),
        *seg_stats("_pa", "_pad", "para"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_df: int = 3,
) -> DataFrame:
    """C4-style cross-corpus boilerplate removal (Raffel et al. 2020 §2.2):
    drop every line that occurs ``min_df``+ times across the WHOLE corpus
    ("enable javascript", cookie banners, nav menus), keeping each
    document's surviving lines in their original order.  The within-doc
    complement is :func:`structural_repetition`; this is the cross-doc cut.

    Plan (the X86 shape — all shuffles keyed on a 64-bit line hash):

    1. split to trimmed non-empty lines WITH their position — row-local
       posexplode;
    2. count occurrences per line hash corpus-wide (one shuffle, map-side
       partial aggregation);
    3. ANTI-join the line stream against the ``>= min_df`` boilerplate
       hash set (r10 inversion: the former inner join against the
       UNDER-threshold set keyed the join on a mostly-unique-lines table —
       corpus-sized, never broadcastable; the boilerplate complement is
       the small side by construction — only lines repeated ``min_df``+
       times — so AQE's runtime size measurement converts the anti-join
       to a broadcast and the line stream never shuffles for the join;
       a corpus where repeated lines dominate falls back to the same
       shuffle join as before.  Every line hash lands in exactly one of
       the two count sets, so kept rows are identical);
    4. reassemble per doc: collect (position, line), array_sort, join with
       the separator — deterministic byte-identical output on any
       partitioning;
    5. left-join back to the input so fully-boilerplate docs survive as
       empty strings (the caller's length gate drops them — this operator
       never silently deletes a document).

    Returns (id, clean_text, n_lines_kept, n_lines_removed).  Line equality
    is on xxhash64 (the module-standard 64-bit-collision trade).  NULL text
    → NULL clean_text, zero counts.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    # stage_barrier: InferFiltersFromGenerate derives size(_ls)>0 from the
    # posexplode and pushdown would inline the whole split/trim chain into a
    # scan-side filter, re-running it per doc (plan_audit LambdaCaptureHash)
    base = stage_barrier(
        ensure_parallelism(df).select(F.col(id_col).alias("_id"), lines.alias("_ls")),
        "_ls",
    )
    exploded = base.select(
        "_id", F.posexplode("_ls").alias("i", "ln")
    ).withColumn("lh", F.xxhash64("ln"))
    boiler_hashes = (
        exploded.groupBy("lh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("lh")
    )
    kept = exploded.join(boiler_hashes, "lh", "left_anti").groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ln"))),
                lambda s: s["ln"],
            ),
            "\n",
        ).alias("_clean"),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    totals = base.select(
        "_id", F.size("_ls").cast("long").alias("_n_lines")
    )
    return (
        totals.join(kept, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.when(
                F.col("_n_lines").isNotNull(),
                F.coalesce("_clean", F.lit("")),
            ).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (
                F.coalesce("_n_lines", F.lit(0))
                - F.coalesce("n_lines_kept", F.lit(0))
            ).alias("n_lines_removed"),
        )
    )
