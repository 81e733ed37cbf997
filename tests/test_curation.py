"""Tests for the X27-X31 curation/layout/inference extensions: per-source
caps (incl. the WindowGroupLimit plan shape), blocklists, Gopher top-n-gram
coverage, int8 quantization laws, and the batched-inference harness."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import dedup as dd
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import inference as inf
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import similarity as sim
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx


# ---------------------------------------------------------------- X27 caps


def test_per_source_cap_keeps_best_and_bounds(spark):
    rows = [(i, f"s{i % 3}", 100 - i) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, n_chars LONG")
    out = cu.per_source_cap(df, "source", "doc_id", cap=4, quality_col="n_chars")
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r.source, []).append(r)
    assert all(len(v) <= 4 for v in per.values())
    # best-first: source s0 has doc_ids 0,3,6,... with n_chars 100,97,94...
    s0 = sorted(per["s0"], key=lambda r: r.source_rank)
    assert [r.doc_id for r in s0] == [0, 3, 6, 9]
    assert [r.source_rank for r in s0] == [1, 2, 3, 4]


def test_per_source_cap_gets_window_group_limit(spark):
    """The scale claim: rank<=cap over a window must compile to a
    WindowGroupLimit physical node (map-side per-key pruning before the
    shuffle) — Spark 3.5+/4 rewrite, load-bearing for hot sources."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("source"),
        F.col("id").alias("n_chars"),
    )
    out = cu.per_source_cap(df, "source", "doc_id", cap=3, quality_col="n_chars")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_blocklist_filter_drops_listed_keeps_null(spark):
    df = spark.createDataFrame(
        [(1, "bad"), (2, "good"), (3, None)], "doc_id LONG, source STRING"
    )
    out = cu.blocklist_filter(df, "source", ["bad"]).select("doc_id").collect()
    assert sorted(r.doc_id for r in out) == [2, 3]  # NULL passes to next gate


def test_source_mix_report_shares_sum_to_one(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, "b", 60)], "doc_id LONG, source STRING, w LONG"
    )
    got = {r.source_value: r for r in cu.source_mix_report(df, "source", weight_col="w").collect()}
    assert got["a"].n_docs == 2 and got["b"].n_docs == 1
    assert abs(got["a"].share - 0.4) < 1e-12 and abs(got["b"].share - 0.6) < 1e-12


# ------------------------------------------------- X28 top-n-gram coverage


def test_top_ngram_coverage_known_value(spark):
    # "a b a b c": 2-grams = [a b, b a, a b, b c]; top gram "a b" covers
    # 2 occurrences * 3 chars = 6 of 9 chars -> 0.666667
    df = spark.createDataFrame([(1, "a b a b c")], "doc_id LONG, text STRING")
    r = tx.top_ngram_coverage(df, "text", "doc_id", ns=(2,)).first()
    assert r.top_2gram_char_ratio == pytest.approx(6 / 9, abs=1e-6)


def test_top_ngram_coverage_monotone_boilerplate(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "one two three four five six")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in tx.top_ngram_coverage(df, "text", "doc_id", ns=(2,)).collect()}
    assert got[1].top_2gram_char_ratio > 0.9  # pure repetition ~ full coverage
    assert got[2].top_2gram_char_ratio < 0.5  # all-distinct grams cover one slot


# ------------------------------------------------------ X30 int8 quantize


def test_quantize_int8_laws(spark, sf_dir):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    emb = star.table(spark, sf_dir, "embeddings").limit(50)
    rep = sim.quantization_error_report(emb).collect()
    assert len(rep) == 50
    for r in rep:
        # absmax scheme bounds reconstruction error by scale/2 (+rounding slop)
        assert r.max_abs_err <= r.scale / 2 + 2e-6, (r.vec_id, r.max_abs_err, r.scale)
        assert r.rms_err <= r.max_abs_err + 1e-9


def test_quantize_int8_range_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {r.vec_id: r for r in sim.quantize_int8(df).collect()}
    assert all(-127 <= q <= 127 for q in got[1].qvec)
    assert got[1].qvec[1] == -127  # absmax element pins the range
    assert got[2].qvec == [0, 0, 0] and got[2].scale == 0.0


def test_quantized_topk_recall_floor(spark, sf_check_dir):
    """int8 keeps the cosine ranking nearly intact: mean recall@5 >= 0.9 on
    the sf0.01 embeddings (measured ~0.98; floor leaves slack)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    emb = star.table(spark, sf_check_dir, "embeddings")
    r = sim.quantized_topk_recall(emb, emb.filter(F.col("vec_id") < 10), k=5).first()
    assert r.n_queries == 10
    assert r.mean_recall >= 0.9


# ------------------------------------------------- X29 inference harness


def test_inference_scores_match_reference_math(spark):
    df = spark.createDataFrame(
        [(1, "one two three two"), (2, "a a a a")], "doc_id LONG, text STRING"
    )
    got = {r.doc_id: r for r in inf.score_documents(df, "text", "doc_id").collect()}
    # doc 1: 4 tokens, 3 distinct — the logistic model in plain math
    b, w1, w2 = inf._WEIGHTS
    exp1 = 1.0 / (1.0 + math.exp(-(b + w1 * 3 / 4 + w2 * math.log1p(4))))
    assert got[1].score == pytest.approx(exp1, abs=2e-6)
    assert got[1].n_tokens == 4
    assert got[1].model_version == inf.MODEL_VERSION
    # repetitive doc scores lower than diverse doc
    assert got[2].score < got[1].score


def test_inference_batching_is_transparent(spark):
    """Scores must not depend on Arrow batch boundaries or partitioning —
    the load-once-per-task model is stateless across batches."""
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i % 7} alpha beta gamma") for i in range(200)],
        "doc_id LONG, text STRING",
    )
    one = inf.score_documents(df.coalesce(1), "text", "doc_id").collect()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        many = inf.score_documents(df.repartition(8), "text", "doc_id").collect()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_inference_plan_ships_features_not_text(spark):
    """The Python boundary carries only (doc_id, n_tokens, distinct_ratio) —
    raw text is reduced to numbers JVM-side, before mapInPandas."""
    df = spark.createDataFrame([(1, "hello world")], "doc_id LONG, text STRING")
    out = inf.score_documents(df, "text", "doc_id")
    analyzed = out._jdf.queryExecution().analyzed()
    node = analyzed  # find the MapInPandas node, then inspect its child
    while "MapInPandas" not in node.nodeName():
        node = node.children().head()
    child_cols = [
        node.child().output().apply(i).name()
        for i in range(node.child().output().size())
    ]
    assert child_cols == ["doc_id", "n_tokens", "distinct_ratio"], child_cols


# ------------------------------------------- X32 temperature resampling


def test_temperature_resample_keeps_smallest_domain_fully(spark):
    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = cu.temperature_resample(df, "lang", "doc_id", tau=0.5).collect()
    kept = {}
    for r in out:
        kept.setdefault(r.lang, 0)
        kept[r.lang] += 1
    assert kept["small"] == 20  # rate_min = 1.0 exactly
    # big domain should shed to ~ sqrt(20/400)*400 = ~89 docs (md5-draw noise)
    assert 50 <= kept["big"] <= 130
    rates = {r.lang: r.keep_rate for r in out}
    assert rates["small"] == 1.0
    assert abs(rates["big"] - (20 / 400) ** 0.5) < 1e-6


def test_temperature_resample_tau_one_is_noop(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(60)], "doc_id LONG, lang STRING"
    )
    assert cu.temperature_resample(df, "lang", "doc_id", tau=1.0).count() == 60


# --------------------------------------------- X33 token-budget selection


def test_select_to_token_budget_matches_naive_greedy(spark):
    rows = [(i, 10 + (i * 7) % 40) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tok LONG")
    budget = 800
    # naive single-pass greedy reference
    cum, expect = 0, {}
    for i, t in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum + t <= budget:
            cum += t
            expect[i] = cum
        else:
            break
    got = {
        r.doc_id: r.cum_tokens
        for r in cu.select_to_token_budget(df, "n_tok", "doc_id", budget=budget).collect()
    }
    assert got == expect
    assert max(got.values()) <= budget


def test_select_to_token_budget_zero_token_docs_on_exact_boundary(spark):
    """Zero-token docs whose running total lands EXACTLY on the budget must
    be kept (naive `cum <= budget` keeps them: they cost nothing) -- the
    boundary filter is `<=`, not `<`."""
    rows = [(1, 60), (2, 40), (3, 0), (4, 0)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tok LONG")
    got = {
        r.doc_id: r.cum_tokens
        for r in cu.select_to_token_budget(df, "n_tok", "doc_id", budget=100).collect()
    }
    assert got == {1: 60, 2: 100, 3: 100, 4: 100}


def test_select_to_token_budget_doc_window_is_partitioned(spark):
    """The corpus-sized window must be partitioned by the token value (only
    the tiny per-value histogram may run as an unpartitioned window)."""
    df = spark.createDataFrame([(i, 10) for i in range(50)], "doc_id LONG, n_tok LONG")
    out = cu.select_to_token_budget(df, "n_tok", "doc_id", budget=200)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the doc-level running sum partitions on _v (shows as a partition arg
    # of its windowspecdefinition); the value-histogram window doesn't see
    # doc_id at all, so this pins the right window to the right shape
    assert "windowspecdefinition(_v" in plan, plan
    assert sorted(r.doc_id for r in out.collect()) == list(range(20))


# --------------------------------------------------- X35 quality funnel


def test_quality_funnel_attribution_order(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today ok"),  # keeps
        (2, "too short"),                                   # fails min_tokens
        (3, "the " * 20 + "end of the line here now ok"),   # dup ratio high -> max_dup_tokens
        (4, "zz yy xx ww vv uu tt ss rr qq pp oo"),         # no stopwords -> lang_known
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in tx.quality_funnel(df, "text", "doc_id").collect()}
    assert got[1].keep and got[1].first_failed is None
    assert got[2].first_failed == "min_tokens"
    assert got[3].first_failed == "max_dup_tokens"  # attribution = FIRST failure
    assert got[4].first_failed == "lang_known"
    assert not got[4].keep


def test_funnel_report_conserves_counts(spark, sf_dir):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    docs = star.table(spark, sf_dir, "documents")
    funnel = tx.quality_funnel(docs, "text", "doc_id")
    rep = {r.rule: r for r in tx.funnel_report(funnel).collect()}
    n_total = docs.count()
    n_kept = funnel.filter("keep").count()
    # funnel conservation: reached(i+1) = reached(i) - dropped(i); the last
    # rule's survivors = kept docs
    order = list(tx.FUNNEL_RULES)
    assert rep[order[0]].n_reached == n_total
    for a, b in zip(order, order[1:]):
        assert rep[b].n_reached == rep[a].n_reached - rep[a].n_dropped
    last = rep[order[-1]]
    assert last.n_reached - last.n_dropped == n_kept


# ------------------------------------------------------- X36 BPE training


def _bpe_reference(texts, n_merges):
    """Pure-Python BPE (Sennrich et al. 2016) on the word histogram, with
    the same lexicographic tie-break as the Spark operator."""
    import collections
    import re

    hist = collections.Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", t.strip().lower())
        for w in norm.split(" "):
            if w:
                hist[w] += 1
    symbols = {w: [*w[:-1], w[-1] + "</w>"] for w in hist}
    merges = []
    for _ in range(n_merges):
        counts = collections.Counter()
        for w, n in hist.items():
            s = symbols[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += n
        if not counts:
            break
        # deterministic: max count, then lexicographically SMALLEST (a, b)
        top_n = max(counts.values())
        a, b = min(p for p, n in counts.items() if n == top_n)
        merges.append((a, b, counts[(a, b)]))
        for w in symbols:
            s = symbols[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            symbols[w] = out
    return merges


def test_bpe_train_matches_python_reference(spark):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    texts = [
        "low lower lowest low",
        "new newer newest news",
        "the newest of the new low lows",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    got = bpe.bpe_train(df, "text", n_merges=8)
    assert got == _bpe_reference(texts, 8)


def test_bpe_train_seeded_prefix_is_equivalent(spark):
    """Seeded training (replay a learned prefix as lazy histogram rewrites,
    resume live rounds after it) must produce EXACTLY the merges of an
    unseeded run — the property the plans-layer ``_bpe_merges`` memo relies
    on to share one training lineage across the three BPE queries."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    texts = [
        "low lower lowest low",
        "new newer newest news",
        "the newest of the new low lows",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    full = bpe.bpe_train(df, "text", n_merges=8)
    pre = bpe.bpe_train(df, "text", n_merges=5)
    assert pre == full[:5]
    assert bpe.bpe_train(df, "text", n_merges=8, seed=pre) == full
    # over-long seed is truncated, not extended
    assert bpe.bpe_train(df, "text", n_merges=5, seed=full) == pre


def test_bpe_encoders_agree_on_delimiter_chars(spark):
    """BPE corpus normalization strips the string-rewrite delimiter control
    chars (U+0001/U+001E/U+001F) in EVERY path, so adversarial text
    containing them cannot forge a symbol boundary and the two encoders
    still agree token-for-token."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    texts = [
        "low\x01lower \x1elow\x1f lowest",
        "\x01\x1e\x1f",  # sentinel-only doc -> zero tokens
        "new newer",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    merges = bpe.bpe_train(df, "text", n_merges=6)
    a = {r["doc_id"]: r["tokens"] for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()}
    b = {r["doc_id"]: r["tokens"] for r in bpe.bpe_encode_pandas(df, "text", "doc_id", merges).collect()}
    assert a == b
    assert a[1] == []
    # "low\x01lower" normalizes to the single word "lowlower"
    assert "".join(a[0]).startswith("lowlower</w>")


def test_bpe_merge_fold_nonoverlapping(spark):
    """aaa with merge (a,a) -> [aa, a]: left-to-right non-overlapping, the
    reference BPE semantics."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.bpe import _apply_merge

    df = spark.createDataFrame([(["a", "a", "a"],), (["x", "a", "a", "y"],)], "symbols ARRAY<STRING>")
    got = [r[0] for r in df.select(_apply_merge(F.col("symbols"), "a", "a")).collect()]
    assert got == [["aa", "a"], ["x", "aa", "y"]]


# --------------------------------------------------- X37 product quantization


def test_pq_encode_deterministic_and_in_range(spark, sf_dir):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    emb = star.table(spark, sf_dir, "embeddings")
    cbs = sim.pq_train(emb, m=8, k=16)
    assert len(cbs) == 8 and len(cbs[0]) == 16
    a = {r.vec_id: r.codes for r in sim.pq_encode(emb, cbs).collect()}
    b = {r.vec_id: r.codes for r in sim.pq_encode(emb.repartition(7), cbs).collect()}
    assert a == b  # codes independent of partitioning
    assert all(0 <= c < 16 for codes in a.values() for c in codes)

    # the portable seed-codebook mode (similarity_pq_encode's declared
    # form): the codebooks slice correctly
    scbs = sim.pq_seed_codebooks(emb, m=16, k=16, seed=42)
    assert len(scbs) == 16 and len(scbs[0]) == 16 and len(scbs[0][0]) == 4


def test_pq_rerank_recovers_recall(spark, sf_check_dir):
    """Two-stage (ADC shortlist -> exact re-rank) must dominate raw ADC
    recall and clear a floor even on near-random vectors (PQ's worst case)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star
    from pyspark.sql import functions as F

    emb = star.table(spark, sf_check_dir, "embeddings")
    cbs = sim.pq_train(emb, m=16, k=64)
    r = sim.pq_topk_recall(emb, emb.filter(F.col("vec_id") < 10), cbs, k=5).first()
    assert r.n_queries == 10
    assert r.mean_recall_rerank >= r.mean_recall
    assert r.mean_recall >= 0.4  # raw ADC floor (measured 0.66)
    assert r.mean_recall_rerank >= 0.8  # shortlist-50 recovers (measured ~0.9+)


def test_bpe_encode_applies_merges_in_order(spark):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new news")], "doc_id LONG, text STRING"
    )
    merges = bpe.bpe_train(df, "text", n_merges=4)
    got = {r.doc_id: r.tokens for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()}
    # merges: (l,o) (lo,w) (lo,w</w>) (low,e)
    assert got[1] == ["low</w>", "lowe", "r</w>", "lowe", "s", "t</w>", "low</w>"]
    assert got[2] == ["n", "e", "w</w>", "n", "e", "w", "s</w>"]
    # zero merges -> pure character symbols
    raw = {r.doc_id: r.n_tokens for r in bpe.bpe_encode(df, "text", "doc_id", []).collect()}
    assert raw[2] == len("new") + len("news")


def _syllable_corpus():
    """Deterministic corpus with enough vocabulary to learn 100+ merges."""
    import itertools

    sylls = ["ba", "ne", "to", "ri", "lum", "ka", "shi", "or"]
    words = ["".join(p) for p in itertools.product(sylls, repeat=2)] + [
        "".join(p) for p in itertools.product(sylls, repeat=3)
    ]
    texts = []
    for d in range(60):
        ws = [words[(d * 13 + k * 7) % len(words)] for k in range(40)]
        texts.append(" ".join(ws))
    return texts


def test_bpe_encode_pandas_matches_fold_path(spark):
    """Rank-priority greedy (mapInPandas, scale path) must produce the same
    token sequences as applying the learned merges in order (fold path) --
    the creation-order invariant of learned merge lists guarantees it."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    texts = _syllable_corpus()
    # 40 is just under the fold path's hard analyzer bound (~50 merges =
    # "Max iterations (100) reached for batch Resolution"), documented in
    # bpe_encode's docstring -- beyond it ONLY the pandas path works
    merges = _bpe_reference(texts, 40)
    assert len(merges) == 40  # the corpus really supports this depth
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING").repartition(4)
    fold = {r.doc_id: (r.tokens, r.n_tokens) for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()}
    pand = {r.doc_id: (r.tokens, r.n_tokens) for r in bpe.bpe_encode_pandas(df, "text", "doc_id", merges).collect()}
    assert fold == pand


def test_bpe_encode_pandas_large_vocab_scales(spark):
    """At n_merges >= 100 the pandas encoder still round-trips (tokens minus
    EOW re-concatenate to the normalized words) and its PLAN stays O(1) in
    |merges| -- the property the fold chain lacks."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    texts = _syllable_corpus()
    merges = _bpe_reference(texts, 150)
    assert len(merges) == 150
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    out = {r.doc_id: r.tokens for r in bpe.bpe_encode_pandas(df, "text", "doc_id", merges).collect()}
    import re

    for doc_id, text in enumerate(texts):
        norm = re.sub(r"\s+", " ", text.strip().lower())
        joined = "".join(out[doc_id]).replace(bpe.EOW, "")
        assert joined == norm.replace(" ", "")
        assert "".join(out[doc_id]).count(bpe.EOW) == len(norm.split(" "))
    # more merges -> fewer tokens than raw characters
    raw = {r.doc_id: r.n_tokens for r in bpe.bpe_encode_pandas(df, "text", "doc_id", []).collect()}
    assert all(len(out[d]) < raw[d] for d in out)
    # plan size must not grow with the merge count
    p10 = bpe.bpe_encode_pandas(df, "text", "doc_id", merges[:10])._jdf.queryExecution().simpleString()
    p150 = bpe.bpe_encode_pandas(df, "text", "doc_id", merges)._jdf.queryExecution().simpleString()
    assert len(p150) <= len(p10) + 50
    assert "MapInPandas" in p150


# ----------------------------------------------------- X38 drift monitors


def test_psi_drift_zero_for_identical_snapshots(spark):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.quality_checks import psi_drift

    df = spark.createDataFrame([(i, float(i % 17)) for i in range(500)], "id LONG, v DOUBLE")
    r = psi_drift(df, df, "v", bins=10).first()
    assert r.n_old == 500 and r.n_new == 500
    assert abs(r.psi) < 1e-9 and abs(r.js_divergence) < 1e-9


def test_psi_drift_surfaces_nulls_and_survives_empty(spark):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.quality_checks import psi_drift

    old = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(40)] + [(100 + i, None) for i in range(6)],
        "id LONG, v DOUBLE",
    )
    new = spark.createDataFrame([(i, float(i % 5)) for i in range(40)], "id LONG, v DOUBLE")
    r = psi_drift(old, new, "v", bins=5).first()
    # NULLs excluded from shares but surfaced, not silently swallowed
    assert r.n_null_old == 6 and r.n_null_new == 0
    assert r.n_old == 40 and r.n_new == 40
    assert abs(r.psi) < 1e-9  # non-null distributions identical
    # two empty snapshots: finite zero report, not a TypeError
    empty = spark.createDataFrame([], "id LONG, v DOUBLE")
    r0 = psi_drift(empty, empty, "v", bins=5).first()
    assert (r0.n_old, r0.n_new, r0.n_null_old, r0.n_null_new) == (0, 0, 0, 0)
    assert r0.psi == 0.0 and r0.js_divergence == 0.0


def test_temperature_resample_null_domain_is_own_group(spark):
    """NULL-domain rows resample as their own domain (null-safe join), not
    silently dropped — the curation family never loses unlabeled rows."""
    rows = [(i, "en") for i in range(80)] + [(100 + i, None) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = cu.temperature_resample(df, "lang", "doc_id", tau=0.0)
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    assert None in by and by[None] > 0  # NULL group survived
    # tau=0 equalizes: NULL group (smallest, n=10) keeps rate 1.0
    assert {r.keep_rate for r in out.filter(F.col("lang").isNull()).select("keep_rate").collect()} == {1.0}
    assert by[None] == 10


def test_psi_drift_detects_shift(spark):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.quality_checks import psi_drift

    old = spark.createDataFrame([(i, float(i % 10)) for i in range(500)], "id LONG, v DOUBLE")
    new = spark.createDataFrame([(i, float(i % 10) + 5.0) for i in range(500)], "id LONG, v DOUBLE")
    r = psi_drift(old, new, "v", bins=10).first()
    assert r.psi > 0.2  # classic "investigate" threshold clearly exceeded
    assert r.js_divergence > 0.05


def test_categorical_drift_attribution(spark):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.quality_checks import categorical_drift

    old = spark.createDataFrame([(i, "en" if i < 80 else "de") for i in range(100)], "id LONG, lang STRING")
    new = spark.createDataFrame([(i, "en" if i < 20 else "de") for i in range(100)], "id LONG, lang STRING")
    got = {r.value: r for r in categorical_drift(old, new, "lang").collect()}
    # en share fell 0.8 -> 0.2 (psi term positive, large); de rose
    assert got["en"].psi_term > 0.5
    assert got["de"].psi_term > 0.2
    assert got["en"].n_old == 80 and got["en"].n_new == 20


# ------------------------------------------------- X41 JL random projection


def test_jl_projection_distortion_bounds(spark, sf_check_dir):
    """JL at 16 dims on 64-dim inputs: distances concentrate near 1x
    (measured mean 0.94, 99.7% of pairs in the (0.5,2) band) and tighten
    as out_dim grows -- a broken scaling or collapsed dimension fails this."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    emb = star.table(spark, sf_check_dir, "embeddings")
    r16 = sim.projection_distortion_eval(emb, out_dim=16).first()
    assert r16.frac_in_band >= 0.95
    assert 0.7 <= r16.mean_ratio <= 1.3
    r32 = sim.projection_distortion_eval(emb, out_dim=32).first()
    assert abs(r32.mean_ratio - 1.0) <= abs(r16.mean_ratio - 1.0) + 0.02


def test_jl_distortion_excludes_identical_vector_pairs(spark):
    """Duplicate embeddings (base distance 0, ratio undefined) must not
    poison the panel: they are counted in n_zero_pairs, and n_pairs /
    frac_in_band / mean share the defined-ratio denominator."""
    vec = [1.0, 2.0, 3.0, 4.0]
    rows = [(0, vec), (1, vec), (2, [5.0, 1.0, 0.0, 2.0]), (3, [0.0, 7.0, 2.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    r = sim.projection_distortion_eval(emb, out_dim=4, n_pairs_side=4, in_dim=4).first()
    assert r.n_zero_pairs == 1  # the (0,1) duplicate pair
    assert r.n_pairs == 5  # 6 pairs total minus the zero-distance one
    assert r.min_ratio > 0.0  # no collapsed ratios from dup pairs
    # all stats share the 5-pair denominator: band fraction is over ratios only
    assert 0.0 <= r.frac_in_band <= 1.0


def test_jl_projection_rejects_width_mismatch(spark):
    """A non-NULL embedding whose width is not ``in_dim`` fails the query
    instead of folding every component to NULL (which the eval read as
    ``n_pairs`` 0); a NULL embedding still projects to NULL components."""
    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [4.0, 3.0, 2.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(Exception, match="in_dim is 64, embedding width is 4"):
        sim.random_projection(emb, out_dim=4).collect()
    with pytest.raises(Exception, match="in_dim is 64, embedding width is 4"):
        sim.projection_distortion_eval(emb, out_dim=4, n_pairs_side=4).collect()
    null = spark.createDataFrame([(0, None)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert sim.random_projection(null, out_dim=4).first().projected == [None] * 4


def test_jl_projection_deterministic_and_seeded(spark, sf_dir):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    emb = star.table(spark, sf_dir, "embeddings").limit(20)
    a = {r.vec_id: r.projected for r in sim.random_projection(emb, out_dim=8).collect()}
    b = {r.vec_id: r.projected for r in sim.random_projection(emb.repartition(5), out_dim=8).collect()}
    assert a == b  # partitioning-independent
    c = {r.vec_id: r.projected for r in sim.random_projection(emb, out_dim=8, seed="jl1").collect()}
    assert a != c  # seed re-deals the matrix


def test_jl_projection_md5_mode_matches_python_model(spark):
    """The engine-portable md5 sign family (the similarity_jl_projection
    oracle path) must agree with a direct Python model — sign(i, j) =
    +1 iff int(md5(f"jl0:{i}:{j}")[:8], 16) is even, dot scaled by
    1/sqrt(out_dim) — and preserve norms the way JL promises."""
    import hashlib
    import math

    vec = [float(j % 7) - 3.0 for j in range(64)]
    emb = spark.createDataFrame([(0, vec)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = sim.random_projection(emb, out_dim=16, in_dim=64).first()
    for i, got in enumerate(out.projected):
        signs = [
            1.0 if int(hashlib.md5(f"jl0:{i}:{j}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0
            for j in range(64)
        ]
        want = sum(x * s for x, s in zip(vec, signs)) * 0.25
        assert abs(got - want) < 1e-9
    # the projection concentrates the norm (JL): projected norm within a
    # loose band of the input norm
    n_in = math.sqrt(sum(x * x for x in vec))
    n_out = math.sqrt(sum(c * c for c in out.projected))
    assert 0.3 * n_in < n_out < 3.0 * n_in


# -------------------------------------------------- X42 perplexity scoring


def test_perplexity_separates_ood_text(spark):
    """A bigram LM trained on clean text must score out-of-distribution
    junk much higher than in-distribution sentences."""
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat on the rug") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    model = tx.train_bigram_lm(train, "text")
    score_df = spark.createDataFrame(
        [(1, "the cat sat on the rug"), (2, "zz qq ww ee rr tt")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r.perplexity for r in tx.perplexity_scores(score_df, "text", "doc_id", model).collect()}
    assert got[2] > 3 * got[1]  # junk is clearly out of distribution


def test_perplexity_short_doc_is_null_and_partition_stable(spark):
    df = spark.createDataFrame(
        [(1, "word"), (2, "two words here")], "doc_id LONG, text STRING"
    )
    model = tx.train_bigram_lm(df, "text")
    a = {r.doc_id: r.perplexity for r in tx.perplexity_scores(df, "text", "doc_id", model).collect()}
    b = {r.doc_id: r.perplexity for r in tx.perplexity_scores(df.repartition(3), "text", "doc_id", model).collect()}
    assert a == b
    assert a[1] is None  # <2 tokens -> no bigram evidence
    assert a[2] is not None and a[2] > 0


def test_perplexity_join_path_matches_literal_path(spark):
    """The broadcast-join scorer (model stays DataFrames, no driver collect)
    must be result-IDENTICAL to the literal-map scorer given the same
    corpus: same per-pair double expression, exact decimal accumulation."""
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug and the cat sat too"),
        (3, "singleton"),
        (4, ""),
        (5, "zz qq the cat unseen pair zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(3)
    model = tx.train_bigram_lm(df, "text")
    lit = {r.doc_id: (r.n_tokens, r.perplexity) for r in tx.perplexity_scores(df, "text", "doc_id", model).collect()}
    uni_df, bi_df = tx.train_bigram_lm_df(df, "text")
    jn = {r.doc_id: (r.n_tokens, r.perplexity) for r in tx.perplexity_scores_join(df, "text", "doc_id", uni_df, bi_df).collect()}
    assert lit == jn


def test_perplexity_join_path_capped_model_matches_capped_literal(spark):
    """With top_k capping, both trainers keep the SAME deterministic
    (count-desc, word-asc) slice, so the scorers still agree exactly."""
    rows = [(i, "alpha beta gamma delta alpha beta epsilon zeta") for i in range(4)] + [
        (10, "alpha beta rare1 rare2 rare3")
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    model = tx.train_bigram_lm(df, "text", top_k=3)
    lit = {r.doc_id: (r.n_tokens, r.perplexity) for r in tx.perplexity_scores(df, "text", "doc_id", model).collect()}
    uni_df, bi_df = tx.train_bigram_lm_df(df, "text", top_k=3)
    jn = {r.doc_id: (r.n_tokens, r.perplexity) for r in tx.perplexity_scores_join(df, "text", "doc_id", uni_df, bi_df).collect()}
    assert lit == jn
    assert uni_df.count() == 3 and bi_df.count() == 3  # the cap is real


# -------------------------------- X51 target mix / X52 sequence packing


def test_target_mix_hits_proportions_and_whitelists(spark):
    rows = (
        [(i, "en") for i in range(1000)]
        + [(2000 + i, "de") for i in range(200)]
        + [(4000 + i, "xx") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = cu.target_mix_resample(df, "lang", "doc_id", {"en": 0.5, "de": 0.5})
    by = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    assert "xx" not in by  # outside the spec -> dropped
    # binding domain (de: 200/0.5=400 < en: 1000/0.5=2000) keeps ~100%
    assert by["de"] >= 190
    # en keeps ~ t_en * N_k / n_en = 0.5*400/1000 = 20%
    assert 130 <= by["en"] <= 270
    import pytest as _pt

    with _pt.raises(ValueError):
        cu.target_mix_resample(df, "lang", "doc_id", {"en": 0.5})  # doesn't sum to 1


def test_pack_sequences_contiguous_per_shard(spark):
    rows = [(i, 100 + (i * 37) % 900) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tok LONG")
    out = cu.pack_sequences_sharded(df, "n_tok", "doc_id", context_len=1000, n_shards=4)
    got = out.collect()
    assert {r.shard for r in got} <= set(range(4))
    # reconstruct each shard's stream: offsets must be the exact running sum
    import collections

    by_shard = collections.defaultdict(list)
    for r in got:
        by_shard[r.shard].append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r.pack_id, r.offset_in_pack, r.doc_id))
        cum = 0
        for r in rs:
            assert r.pack_id == cum // 1000
            assert r.offset_in_pack == cum % 1000
            cum += r.n_tokens
    # deterministic across partitioning
    a = sorted((r.doc_id, r.shard, r.pack_id, r.offset_in_pack) for r in got)
    b = sorted(
        (r.doc_id, r.shard, r.pack_id, r.offset_in_pack)
        for r in cu.pack_sequences_sharded(df.repartition(13), "n_tok", "doc_id", context_len=1000, n_shards=4).collect()
    )
    assert a == b


def test_packing_report_hand_case(spark):
    """One shard, context 10: docs 6+6+5 -> 17 tokens, 2 packs, util .85;
    the 2nd doc straddles the first boundary (offset 6 + 6 > 10)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    packed = spark.createDataFrame(
        [(1, 0, 6, 0, 0), (2, 0, 6, 0, 6), (3, 0, 5, 1, 2)],
        "doc_id LONG, shard INT, n_tokens LONG, pack_id INT, offset_in_pack INT",
    )
    (r,) = cu.packing_report(packed, context_len=10).collect()
    assert (r.shard, r.n_docs, r.total_tokens, r.n_packs) == (0, 3, 17, 2)
    assert abs(r.utilization - 0.85) < 1e-9
    assert r.n_straddling == 1  # doc2 (6+6>10); doc3 fits (2+5<=10)


def test_quantile_map_calibrates_shifted_distribution(spark):
    """A new distribution that is the reference shifted by +100 must map
    back onto the reference's value range: the mapped median equals the
    reference median, and mapping is monotone in the input."""
    ref = spark.createDataFrame([(i, float(i)) for i in range(101)], "id LONG, v DOUBLE")
    new = spark.createDataFrame(
        [(1000 + i, float(i) + 100.0) for i in range(101)], "id LONG, v DOUBLE"
    )
    out = sorted(
        cu.quantile_map(new, ref, "v", "id", grid=100).collect(),
        key=lambda r: r.value,
    )
    # shifted input maps back to the reference scale 0..100
    assert abs(out[0].mapped_value - 0.0) < 1e-6
    assert abs(out[-1].mapped_value - 100.0) < 1e-6
    mid = [r for r in out if r.value == 150.0][0]
    assert abs(mid.mapped_value - 50.0) < 1e-6
    for a, b in zip(out, out[1:]):
        assert a.mapped_value <= b.mapped_value + 1e-9  # monotone


def test_quantile_map_has_no_global_window_over_corpus(spark):
    """The X70 scale fix: percent_rank must come from the per-value
    histogram + running sum (window over the aggregate-REDUCED value
    table), never an unpartitioned window over the raw corpus — pinned
    with the same detector tools/plan_audit.py runs per-round."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import _global_windows_over_unreduced

    ref = spark.createDataFrame([(i, float(i)) for i in range(50)], "id LONG, v DOUBLE")
    new = spark.createDataFrame(
        [(100 + i, float(i) + 7.0) for i in range(50)], "id LONG, v DOUBLE"
    )
    out = cu.quantile_map(new, ref, "v", "id", grid=100)
    assert _global_windows_over_unreduced(out) == []


def test_quantile_map_ties_share_rank_and_nulls_excluded(spark):
    """Ties share the minimum-rank percent_rank (engine-identical with the
    histogram CDF) and NULL new-side scores are excluded, not NULLS-FIRST
    rank-shifted."""
    ref = spark.createDataFrame([(i, float(i)) for i in range(11)], "id LONG, v DOUBLE")
    new = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 5.0), (4, 10.0), (5, None)],
        "id LONG, v DOUBLE",
    )
    rows = {r.id: r for r in cu.quantile_map(new, ref, "v", "id", grid=10).collect()}
    assert 5 not in rows  # NULL score excluded
    assert rows[1].quantile == rows[2].quantile == rows[3].quantile == 0.0
    assert abs(rows[4].quantile - 1.0) < 1e-9
    assert abs(rows[4].mapped_value - 10.0) < 1e-6


def test_exact_quantiles_reduced_bit_identical_to_percentile(spark):
    """The r7 scale fix replaces Spark's exact Percentile aggregate (buffer
    ∝ |distinct| on one reducer) with the per-value-count reduction — the
    swap is only hash-safe if the curve is BIT-identical, so compare with
    ``==`` (no tolerance) on an awkward multiset: duplicates, irregular
    gaps, negatives, integral and fractional positions, n=1, and NULLs."""
    cases = [
        [3.5, -2.0, -2.0, 0.25, 100.0, 7.125, 7.125, 7.125, -0.5],
        [42.0],  # single row: every quantile is the value itself
        [1.0, 2.0],  # pure interpolation between two points
        [5.0, 5.0, 5.0],  # all ties: lower==higher value early-return
    ]
    fracs = [i / 20 for i in range(21)] + [0.123456789, 0.8765]
    for vals in cases:
        rows = [(i, v) for i, v in enumerate(vals)] + [(99, None)]
        df = spark.createDataFrame(rows, "id LONG, v DOUBLE")
        expected = df.select(
            F.percentile(F.col("v").cast("double"), F.lit(fracs)).alias("q")
        ).first()["q"]
        got = cu._exact_quantiles_reduced(df, F.col("v"), fracs)
        assert got == list(expected), f"mismatch for {vals}"
    # empty / all-NULL input -> None (percentile returns NULL)
    empty = spark.createDataFrame([(1, None)], "id LONG, v DOUBLE")
    assert cu._exact_quantiles_reduced(empty, F.col("v"), fracs) is None


def test_no_exact_percentile_aggregate_in_quantile_plans(spark):
    """The verdict's done-criterion for the r6 weak marks: neither
    quantile_map nor temporal_split_embargo may leave a corpus-sized exact
    Percentile aggregate in its plan — pinned with the same detector
    tools/plan_audit.py runs per-round, plus a positive control proving
    the detector sees the anti-pattern."""
    import datetime as dt
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import _exact_percentiles_over_unreduced

    ref = spark.createDataFrame([(i, float(i)) for i in range(50)], "id LONG, v DOUBLE")
    new = spark.createDataFrame(
        [(100 + i, float(i) + 7.0) for i in range(50)], "id LONG, v DOUBLE"
    )
    assert _exact_percentiles_over_unreduced(
        cu.quantile_map(new, ref, "v", "id", grid=50)
    ) == []
    ev = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)) for i in range(50)],
        "event_id LONG, ts TIMESTAMP",
    )
    assert _exact_percentiles_over_unreduced(
        cu.temporal_split_embargo(ev, "ts", "event_id")
    ) == []
    # positive control: the raw anti-pattern flags; the approx form does not
    bad = ref.agg(F.percentile("v", F.lit(0.5)).alias("m"))
    assert len(_exact_percentiles_over_unreduced(bad)) == 1
    ok = ref.agg(F.percentile_approx("v", F.lit(0.5)).alias("m"))
    assert _exact_percentiles_over_unreduced(ok) == []


def test_quantile_map_broadcast_gate(spark, settled_jobs):
    """The rank join-back strategy defers to AQE's runtime size measurement
    (r10): a tiny rank table converts to a broadcast join at runtime, a
    continuous all-distinct corpus stays a shuffle join (the OOM escape),
    and no driver-side distinct-count probe job runs at plan-build time."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.functions.guards import (
        finite_d,
    )

    ref = spark.createDataFrame([(i, float(i)) for i in range(40)], "id LONG, v DOUBLE")
    new = spark.createDataFrame(
        [(100 + i, float(i % 25)) for i in range(40)], "id LONG, v DOUBLE"
    )
    # building the plan must launch no MORE jobs than the ref-side curve
    # collect alone: the former distinct-count probe (.first()) cost a
    # whole extra action + corpus pass per execution (r10)
    j0 = settled_jobs()
    cu._exact_quantiles_reduced(
        ref.filter(finite_d(F.col("v"))), F.col("v"), [i / 20 for i in range(21)]
    )
    curve_only = len(settled_jobs() - j0)
    j1 = settled_jobs()
    auto = cu.quantile_map(new, ref, "v", "id", grid=20)
    assert len(settled_jobs() - j1) <= curve_only
    assert len(auto.collect()) == 40  # executes auto, finalizing its plan
    # AQE must have converted the tiny rank table to a broadcast join at
    # runtime (the plan is final after the collect above)
    final = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final


def test_temporal_split_embargo_partitions(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(hours=i)) for i in range(100)]
    df = spark.createDataFrame(rows, "event_id LONG, ts TIMESTAMP")
    out = {r.event_id: r.split for r in cu.temporal_split_embargo(
        df, "ts", "event_id", train_frac=0.8, embargo_seconds=5 * 3600.0
    ).collect()}
    # cutoff at the 0.8 quantile of 0..99 hours ~= hour 79.2
    assert out[79] == "train" and out[0] == "train"
    assert all(out[i] == "embargo" for i in range(80, 85))  # the purge gap
    assert all(out[i] == "test" for i in range(86, 100))
    # every row is assigned; nothing silently dropped
    assert len(out) == 100


def test_weighted_per_group_sample_semantics(spark):
    """Exactly k per group, heavy items (almost) always selected, NULL and
    non-positive weights excluded, partition-count independent, and the
    rank<=k shape keeps WindowGroupLimit map-side pruning."""
    rows = (
        [(1, "g", 100000), (2, "g", 100000)]                 # two heavyweights
        + [(10 + i, "g", 1) for i in range(50)]               # light tail
        + [(100, "g", None), (101, "g", 0), (102, "g", -5)]  # excluded
        + [(200, "h", 7)]                                     # small group
    )
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING, n_chars LONG")
    out = cu.weighted_per_group_sample(df, "lang", "doc_id", "n_chars", k=5)
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r.lang, []).append(r)
    assert len(per["g"]) == 5 and len(per["h"]) == 1
    g_ids = {r.doc_id for r in per["g"]}
    assert {1, 2} <= g_ids                      # weights dominate
    assert not {100, 101, 102} & g_ids          # invalid weights out
    assert sorted(r.weight_rank for r in per["g"]) == [1, 2, 3, 4, 5]
    again = cu.weighted_per_group_sample(
        df.repartition(7), "lang", "doc_id", "n_chars", k=5
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_psi_drift_nonfinite_values_cannot_blind_the_monitor(spark):
    """One NaN (or ±Inf) reading must NOT poison the bin axis: Spark sorts
    NaN above every double, so an unguarded max makes the width NaN on
    BOTH snapshots and drift silently reads 0.0 forever (the pre-r6 bug).
    Non-finite values are excluded from the axis like NULLs and surfaced
    in the n_null_* counts."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.quality_checks import psi_drift

    mk = lambda vs: spark.createDataFrame(
        [(i, v) for i, v in enumerate(vs)], "id LONG, v DOUBLE"
    )
    old = mk([1.0, 1.0, 2.0, 2.0, 5.0])
    new_shift = [4.0, 4.0, 5.0, 5.0, 5.0]
    clean = psi_drift(old, mk(new_shift), "v", bins=5).first()
    assert clean.psi > 0.2  # a real shift reads as drift

    for poison in [float("nan"), float("inf"), float("-inf")]:
        r = psi_drift(old, mk(new_shift + [poison]), "v", bins=5).first()
        assert r.psi == clean.psi and r.js_divergence == clean.js_divergence
        assert r.n_null_new == 1 and r.n_null_old == 0
        # the poisoned run still reports the REAL drift, not 0.0
        assert r.psi > 0.2


def test_quantile_map_excludes_nonfinite_on_both_sides(spark):
    """A NaN in the reference snapshot would otherwise poison the quantile
    curve's upper tail (percentile sorts NaN last); a NaN new-side score
    has no rank position.  Both are excluded exactly like NULLs."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    nan = float("nan")
    ref_clean = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id LONG, v DOUBLE"
    )
    ref_dirty = ref_clean.unionByName(
        spark.createDataFrame([(99, nan), (98, float("inf"))], "id LONG, v DOUBLE")
    )
    new = spark.createDataFrame(
        [(100, 5.0), (101, 15.0), (102, nan)], "id LONG, v DOUBLE"
    )
    got_clean = {
        r.id: (r.quantile, r.mapped_value)
        for r in cu.quantile_map(new, ref_clean, "v", "id", grid=100).collect()
    }
    got_dirty = {
        r.id: (r.quantile, r.mapped_value)
        for r in cu.quantile_map(new, ref_dirty, "v", "id", grid=100).collect()
    }
    assert 102 not in got_clean  # NaN score: no rank position
    assert got_dirty == got_clean  # dirty reference row changes nothing


def test_value_deciles_excludes_nonfinite_scores(spark):
    """Both engines sort NaN/Inf above every finite double, so an unguarded
    rank binner hands garbage scores the TOP quality decile — the exact
    rows a curriculum sampler must not promote.  They are excluded like
    NULLs (same convention as quantile_map/psi_drift)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    rows = [(i, float(i)) for i in range(20)] + [
        (100, float("nan")),
        (101, float("inf")),
        (102, None),
    ]
    df = spark.createDataFrame(rows, "id LONG, v DOUBLE")
    got = {r.id: r.bin for r in cu.value_deciles(df, "v", "id", n_bins=10).collect()}
    assert set(got) == set(range(20))  # dirty rows excluded
    assert got[19] == 9 and got[0] == 0  # finite binning unchanged


def test_bpe_encoders_agree_on_null_and_empty_documents(spark):
    """A NULL document reaching the Arrow kernel as a non-iterable None
    killed the whole mapInPandas task (one bad row fails a 100 TB encode
    job); the literal-fold twin returned NULL tokens where the kernel
    returns [].  Both now emit an empty token list / n_tokens 0, keeping
    the encoder parity contract on degenerate rows."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "normal text"), (2, None), (3, ""), (4, "emoji 🎉")],
        "doc_id LONG, text STRING",
    )
    merges = [("t", "h"), ("th", "e")]
    lit = {r.doc_id: (list(r.tokens), r.n_tokens) for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()}
    pan = {r.doc_id: (list(r.tokens), r.n_tokens) for r in bpe.bpe_encode_pandas(df, "text", "doc_id", merges).collect()}
    assert lit == pan
    assert lit[2] == ([], 0) and lit[3] == ([], 0)


# ---------------------------------------------------------------- X84


@pytest.fixture(scope="module")
def lined_docs(spark):
    rows = [
        # 4 lines, "nav" repeated twice -> dup_line_ratio 1/4;
        # chars: nav(3)*2 + body lines -> dup mass = 3
        (0, "nav\nalpha beta\nnav\ngamma delta epsilon"),
        # no repeats at all
        (1, "one two\nthree four\nfive six"),
        # 2 paragraphs, second an exact copy of the first
        (2, "header line\nbody text\n\nheader line\nbody text"),
        # blank/whitespace-only lines are dropped, not counted
        (3, "a\n\n   \n\na"),
        (4, ""),
        (5, None),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_structural_repetition_line_ratios(lined_docs):
    out = {r.doc_id: r for r in tx.structural_repetition(lined_docs, "text", "doc_id").collect()}
    r0 = out[0]
    assert r0.n_lines == 4 and r0.dup_line_ratio == 0.25
    total = 3 + 10 + 3 + 19  # nav + "alpha beta" + nav + "gamma delta epsilon"
    assert r0.dup_line_char_ratio == pytest.approx(3 / total, abs=1e-6)
    r1 = out[1]
    assert r1.dup_line_ratio == 0.0 and r1.dup_line_char_ratio == 0.0


def test_structural_repetition_paragraph_ratios(lined_docs):
    out = {r.doc_id: r for r in tx.structural_repetition(lined_docs, "text", "doc_id").collect()}
    r2 = out[2]
    assert r2.n_paras == 2 and r2.dup_para_ratio == 0.5
    # duplicated paragraph mass = chars of one copy
    assert r2.dup_para_char_ratio == 0.5
    # its 4 lines are 2x2 copies -> dup_line_ratio 0.5
    assert r2.n_lines == 4 and r2.dup_line_ratio == 0.5


def test_structural_repetition_degenerates(lined_docs):
    out = {r.doc_id: r for r in tx.structural_repetition(lined_docs, "text", "doc_id").collect()}
    # whitespace-only segments dropped: doc 3 has lines ["a", "a"]
    assert out[3].n_lines == 2 and out[3].dup_line_ratio == 0.5
    # empty text -> zero segments -> NULL ratios, zero counts
    assert out[4].n_lines == 0 and out[4].dup_line_ratio is None
    # NULL text -> NULL everything
    assert out[5].dup_line_ratio is None and out[5].dup_para_ratio is None


# ---------------------------------------------------------------- X85


@pytest.fixture(scope="module")
def fold_docs(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(101)]
    return spark.createDataFrame(rows, ["doc_id", "lang"])


def test_kfold_stratified_exact_balance(fold_docs):
    out = cu.kfold_assign(fold_docs, "doc_id", k=5, strata_col="lang").collect()
    assert len(out) == 101 and all(0 <= r.fold < 5 for r in out)
    by = {}
    for r in out:
        by.setdefault(r.stratum, []).append(r.fold)
    for stratum, folds in by.items():
        counts = [folds.count(f) for f in range(5)]
        assert max(counts) - min(counts) <= 1, (stratum, counts)


def test_kfold_deterministic_and_redealable(fold_docs):
    a = {r.doc_id: r.fold for r in cu.kfold_assign(fold_docs, "doc_id", k=5).collect()}
    b = {r.doc_id: r.fold for r in cu.kfold_assign(fold_docs, "doc_id", k=5).collect()}
    assert a == b
    c = {r.doc_id: r.fold for r in cu.kfold_assign(fold_docs, "doc_id", k=5, salt="cv1").collect()}
    assert a != c  # a new salt re-deals


def test_kfold_unstratified_is_map_only(fold_docs):
    plan = (
        cu.kfold_assign(fold_docs, "doc_id", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_kfold_rejects_degenerate_k(fold_docs):
    with pytest.raises(ValueError):
        cu.kfold_assign(fold_docs, "doc_id", k=1)


# ---------------------------------------------------------------- X86


@pytest.fixture(scope="module")
def span_docs(spark):
    shared = "one two three four five"  # a 5-gram shared by docs 0 and 1
    rows = [
        (0, shared + " apple banana cherry date elder fig grape"),
        (1, "kiwi lemon mango nectar orange " + shared),
        (2, "unique words only here nothing repeats at all today friend"),
        (3, "tiny dup"),  # < k tokens, duplicated with doc 4
        (4, "tiny dup"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_span_coverage_marks_shared_spans(span_docs):
    out = {r.doc_id: r for r in dd.repeated_span_coverage(span_docs, "text", "doc_id", k=5).collect()}
    # docs 0/1: exactly the 5 shared positions are covered
    assert out[0].covered_tokens == 5 and out[0].n_tokens == 12
    assert out[0].dup_span_frac == pytest.approx(5 / 12, abs=1e-6)
    assert out[1].covered_tokens == 5 and out[1].n_tokens == 10
    # doc 2 shares nothing
    assert out[2].covered_tokens == 0 and out[2].dup_span_frac == 0.0
    # short duplicated docs are fully covered (truncated gram, clamped)
    assert out[3].dup_span_frac == 1.0 and out[4].dup_span_frac == 1.0


def test_span_coverage_union_not_double_count(spark):
    # one doc that repeats its own 5-gram with overlap: positions must be
    # a union, never counted twice
    text = "a b c d e a b c d e a b c d e"
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = dd.repeated_span_coverage(df, "text", "doc_id", k=5).collect()[0]
    assert r.n_tokens == 15
    assert r.covered_tokens == 15 and r.dup_span_frac == 1.0


def test_span_coverage_no_corpus_broadcast(span_docs):
    plan = (
        dd.repeated_span_coverage(span_docs, "text", "doc_id", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- X87


@pytest.fixture(scope="module")
def boiler_docs(spark):
    rows = [
        (0, "enable javascript\nreal content zero\nmore real text"),
        (1, "enable javascript\nreal content one"),
        (2, "enable javascript\nreal content two"),
        (3, "enable javascript\nenable javascript"),  # fully boilerplate
        (4, None),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_boilerplate_lines_removed_corpus_wide(boiler_docs):
    out = {
        r.doc_id: r
        for r in tx.remove_boilerplate_lines(
            boiler_docs, "text", "doc_id", min_df=3
        ).collect()
    }
    # "enable javascript" occurs 5x (incl. twice in doc 3) -> dropped
    assert out[0].clean_text == "real content zero\nmore real text"
    assert out[0].n_lines_kept == 2 and out[0].n_lines_removed == 1
    assert out[1].clean_text == "real content one"
    # fully-boilerplate doc survives as an EMPTY string, not a lost row
    assert out[3].clean_text == "" and out[3].n_lines_kept == 0
    assert out[3].n_lines_removed == 2
    # NULL text propagates NULL; empty text stays empty with zero counts
    assert out[4].clean_text is None and out[4].n_lines_removed == 0
    assert out[5].clean_text == "" and out[5].n_lines_kept == 0


def test_boilerplate_keeps_original_line_order(spark):
    df = spark.createDataFrame(
        [(0, "zz last\naa first\nmm mid"), (1, "unrelated line")],
        ["doc_id", "text"],
    )
    out = tx.remove_boilerplate_lines(df, "text", "doc_id", min_df=3).collect()
    got = {r.doc_id: r.clean_text for r in out}
    # nothing repeats -> everything kept, ORIGINAL order (not sorted text)
    assert got[0] == "zz last\naa first\nmm mid"


# ---------------------------------------------------------------- X88


@pytest.fixture(scope="module")
def length_docs(spark):
    # ids 0..199 with token counts alternating tiny/huge: arrival-order
    # batching pads ~half of every batch to the huge length
    rows = [(i, 10 if i % 2 else 500) for i in range(200)]
    return spark.createDataFrame(rows, ["doc_id", "n_tok"])


def test_batch_by_length_shape_and_pad(length_docs):
    out = cu.batch_by_length(
        length_docs, "n_tok", "doc_id", batch_size=8, n_shards=4
    ).collect()
    assert len(out) == 200
    sizes = {}
    for r in out:
        assert r.pad_tokens == r.batch_max_tokens - r.n_tokens >= 0
        sizes.setdefault((r.shard, r.batch_id), 0)
        sizes[(r.shard, r.batch_id)] += 1
    assert max(sizes.values()) <= 8


def test_batch_by_length_beats_arrival_order(length_docs):
    out = cu.batch_by_length(
        length_docs, "n_tok", "doc_id", batch_size=8, n_shards=4
    ).collect()
    waste = sum(r.pad_tokens for r in out) / sum(r.batch_max_tokens for r in out)
    # arrival order on this corpus wastes 0.49 (every batch holds both 10s
    # and 500s, so half of every batch pads 490-to-500); bucketing leaves
    # only each shard's single straddle batch paying that price
    toks = [10 if i % 2 else 500 for i in range(200)]
    pad = tot = 0
    for b in range(0, 200, 8):
        batch = toks[b : b + 8]
        m = max(batch)
        pad += sum(m - t for t in batch)
        tot += m * len(batch)
    arrival = pad / tot
    assert waste < arrival / 2


def test_batch_by_length_drops_tokenless_rows(spark):
    df = spark.createDataFrame(
        [(0, 5), (1, 0), (2, None)], ["doc_id", "n_tok"]
    )
    out = cu.batch_by_length(df, "n_tok", "doc_id", batch_size=4, n_shards=2).collect()
    assert [r.doc_id for r in out] == [0]


# ---------------------------------------------------------------- X89


def test_nostraddle_packing_never_splits_and_flags_overflow(spark):
    rows = [(i, n) for i, n in enumerate([30, 30, 30, 100, 10, 64, 5])]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = cu.pack_documents_nostraddle(
        df, "n_tok", "doc_id", context_len=64, n_shards=1
    ).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin_id, []).append(r)
    for rows_in_bin in by_bin.values():
        total = sum(r.n_tokens for r in rows_in_bin)
        if len(rows_in_bin) > 1:
            # multi-doc bins always fit; no document straddles a boundary
            assert total <= 64
    # the 100-token doc is alone in its bin and flagged
    big = next(r for r in out if r.n_tokens == 100)
    assert big.overflow and len(by_bin[big.bin_id]) == 1
    assert big.offset_in_bin == 0
    # nothing else is flagged
    assert sum(1 for r in out if r.overflow) == 1


def test_nostraddle_packing_matches_python_model(spark):
    import hashlib

    toks = [7, 64, 3, 65, 64, 1, 1, 62, 2, 2, 40, 25, 24, 10, 90]
    rows = list(enumerate(toks))
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = {
        r.doc_id: (r.shard, r.bin_id, r.offset_in_bin, r.overflow)
        for r in cu.pack_documents_nostraddle(
            df, "n_tok", "doc_id", context_len=64, n_shards=2
        ).collect()
    }

    def draw(i):
        return hashlib.md5(f"p0:{i}".encode()).hexdigest()

    want = {}
    for s in range(2):
        members = sorted(
            (i for i, _ in rows if int(draw(i)[:6], 16) % 2 == s),
            key=lambda i: (draw(i), i),
        )
        bin_id, used = 0, 0
        for j, i in enumerate(members):
            n = toks[i]
            if j > 0 and used + n > 64:
                bin_id, used = bin_id + 1, 0
            want[i] = (s, bin_id, used, n > 64)
            used += n
    assert out == want


# ------------- row-local pair expansions pinned against the join forms
# they replaced (winnow candidates, vocabulary overlap, boilerplate
# anti-join, dup-rate window): same pairs and counts, exactly


def test_winnow_candidates_matches_join_formulation(spark):
    """winnow_candidates' row-local pair expansion (one collect_list
    aggregate per fingerprint) must reproduce the original explode +
    bucket-count + fp self-join pair set exactly — including the bucket
    cap counting ROWS (NULL ids included) while pairs only ever contain
    non-NULL ids, and the min_shared cut on the pair count."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.text import (
        winnow_candidates,
    )

    # hand-built fingerprint sets: fp 1 shared by 4 docs, fp 2 by 2, fp 3
    # oversized (> cap) and must be dropped, fp 4 shared only via a NULL id
    rows = [
        (1, [1, 2, 4]),
        (2, [1, 2]),
        (3, [1, 3]),
        (4, [1, 3]),
        (5, [3]),
        (6, [3]),
        (None, [4, 1]),
        (7, [4]),
    ]
    fps = spark.createDataFrame(rows, "doc_id BIGINT, fingerprints ARRAY<BIGINT>")

    def old_form(fps, cap, min_shared):
        e = fps.select(
            F.col("doc_id").alias("_id"), F.explode_outer("fingerprints").alias("fp")
        ).filter(F.col("fp").isNotNull())
        small = (
            e.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_bucket"))
            .filter(F.col("_bucket") <= cap)
            .select("fp")
        )
        e = e.join(small, "fp")
        a = e.select(F.col("_id").alias("id_a"), "fp")
        b = e.select(F.col("_id").alias("id_b"), "fp")
        return (
            a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )

    for cap, min_shared in ((3, 1), (4, 1), (200, 2)):
        want = {
            (r.id_a, r.id_b): r.n_shared
            for r in old_form(fps, cap, min_shared).collect()
        }
        got = {
            (r.id_a, r.id_b): r.n_shared
            for r in winnow_candidates(
                fps, "doc_id", min_shared=min_shared, max_bucket_size=cap
            ).collect()
        }
        assert got == want, f"pair divergence at cap={cap} min_shared={min_shared}"


def test_vocabulary_overlap_matches_selfjoin_formulation(spark):
    """vocabulary_overlap's row-local pair expansion (collect_set per word +
    sorted combos) must reproduce the original distinct + word-keyed
    self-join pair counts exactly — including NULL-group exclusion and the
    binary string ordering of group_a < group_b."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.text import (
        vocabulary_overlap,
    )
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.dedup import (
        normalized_text,
    )

    rows = [
        (1, "alpha beta gamma", "s1"),
        (2, "beta gamma delta", "s2"),
        (3, "gamma delta", "s3"),
        (4, "alpha alpha beta", "s1"),   # within-group dup words
        (5, "epsilon", None),            # NULL group must not pair
        (6, "Beta, GAMMA!", "s2"),       # normalization collapses case/punct
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")

    def old_form(df):
        words = (
            df.select(
                F.col("source").alias("_g"),
                F.explode(F.split(normalized_text(F.col("text")), " ")).alias("_w"),
            )
            .filter(F.length("_w") > 0)
            .distinct()
        )
        a = words.select(F.col("_g").alias("group_a"), "_w")
        b = words.select(F.col("_g").alias("group_b"), "_w")
        return (
            a.join(b, "_w")
            .filter(F.col("group_a") < F.col("group_b"))
            .groupBy("group_a", "group_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        )

    want = {(r.group_a, r.group_b): r.n_shared for r in old_form(df).collect()}
    out = {(r.group_a, r.group_b): r for r in vocabulary_overlap(df, "text", "source").collect()}
    assert {k: r.n_shared for k, r in out.items()} == want
    # full output row sanity: jaccard = shared / (na + nb - shared)
    for (a, b), r in out.items():
        assert abs(r.jaccard - r.n_shared / (r.n_vocab_a + r.n_vocab_b - r.n_shared)) < 1e-6


def test_remove_boilerplate_anti_join_matches_inner_join(spark):
    """The >= min_df anti-join inversion must keep exactly the lines the
    original under-threshold inner join kept."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.text import (
        remove_boilerplate_lines,
    )

    nav = "enable javascript"
    rows = [
        (1, f"{nav}\nunique one\ncommon line"),
        (2, f"{nav}\nunique two\ncommon line"),
        (3, f"{nav}\nunique three"),
        (4, f"{nav}\n{nav}"),          # fully-boilerplate doc survives empty
        (5, None),                      # NULL text
        (6, "  \n\n  "),                # only blank lines
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in remove_boilerplate_lines(df, "text", "doc_id", min_df=3).collect()}
    # nav occurs 5 times (>=3, dropped); "common line" twice (kept)
    assert out[1].clean_text == "unique one\ncommon line"
    assert out[2].clean_text == "unique two\ncommon line"
    assert out[3].clean_text == "unique three"
    assert (out[1].n_lines_kept, out[1].n_lines_removed) == (2, 1)
    assert out[4].clean_text == "" and out[4].n_lines_kept == 0 and out[4].n_lines_removed == 2
    assert out[5].clean_text is None
    assert out[6].clean_text == "" and out[6].n_lines_removed == 0


def test_dup_rate_window_matches_join_formulation(spark):
    """dup_rate_by_group's (hash, group) aggregate + cluster-min window must
    reproduce the original exact_dedup annotate-back join counts — incl.
    cross-group clusters (drop attributed to the dropped copy's group),
    singleton clusters, and a group with only duplicates."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.dedup import (
        dup_rate_by_group,
        exact_dedup,
    )
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.dedup import (
        normalized_text,
    )

    rows = [
        (10, "same content", "s1"),   # keeper (min id of the cluster)
        (11, "same content", "s2"),   # cross-group dup -> counts against s2
        (12, "same content", "s1"),   # within-group dup -> counts against s1
        (None, "same content", "s2"), # NULL id: never dropped (id != keep is NULL)
        (10, "same content", "s1"),   # duplicate keeper id: BOTH rows survive
        (20, "unique a", "s1"),
        (21, "unique b", "s2"),
        (30, "other dup", "s3"),      # keeper
        (31, "OTHER  dup", "s3"),     # normalization makes this a dup
        (40, None, "s1"),             # NULL text: excluded (NULL hash never joins)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")

    h = F.sha2(normalized_text(F.col("text")), 256)
    tagged = df.select(F.col("doc_id"), F.col("source").alias("group"), h.alias("content_hash"))
    old = {
        r.group: (r.n_docs, r.n_dropped)
        for r in tagged.join(exact_dedup(df, "text", "doc_id"), "content_hash")
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when((F.col("n_copies") >= 2) & (F.col("doc_id") != F.col("keep_id")), 1)
                .otherwise(0)
            ).cast("long").alias("n_dropped"),
        )
        .collect()
    }
    new = {
        r.group: (r.n_docs, r.n_dropped)
        for r in dup_rate_by_group(df, "text", "doc_id", "source").collect()
    }
    assert new == old
    assert new["s2"] == (3, 1) and new["s1"] == (4, 1) and new["s3"] == (2, 1)
