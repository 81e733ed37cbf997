"""Property-based tests (hypothesis): Spark operators vs plain-Python models
on arbitrary inputs, and partition-invariance of the exact aggregates."""

from __future__ import annotations

import math
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.functions.exact import davg, dsum
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import dedup as dd
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.transform import (
    first_wins_dedup,
)

SETTINGS = settings(
    max_examples=12, deadline=None, suppress_health_check=list(HealthCheck)
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=1000),  # ord (may collide)
        st.integers(min_value=0, max_value=100),  # payload
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@SETTINGS
def test_first_wins_dedup_matches_python_model(spark, rows):
    # unique total order: (ord, payload, idx)
    data = [(k, o, p, i) for i, (k, o, p) in enumerate(rows)]
    df = spark.createDataFrame(data, ["k", "ord", "p", "idx"])
    got = {
        r.k: (r.ord, r.p, r.idx)
        for r in first_wins_dedup(df, "k", [F.col("ord"), F.col("p"), F.col("idx")]).collect()
    }
    expect = {}
    for k, o, p, i in sorted(data, key=lambda t: (t[1], t[2], t[3])):
        expect.setdefault(k, (o, p, i))
    assert got == expect


values_strategy = st.lists(
    st.decimals(
        min_value=Decimal("-9999.99"), max_value=Decimal("9999.99"), places=2
    ),
    min_size=1,
    max_size=30,
)


@given(vals=values_strategy, parts=st.integers(min_value=1, max_value=8))
@SETTINGS
def test_dsum_davg_partition_invariant_and_exact(spark, vals, parts):
    data = [(float(v),) for v in vals]
    df = spark.createDataFrame(data, ["v"]).repartition(parts)
    row = df.agg(dsum("v", "s"), davg("v", "a")).first()
    exact_sum = sum(vals)
    assert Decimal(str(row.s)).quantize(Decimal("0.01")) == exact_sum.quantize(
        Decimal("0.01")
    )
    # mean matches the floor(x*100+0.5)/100 model (round-half-toward-+inf)
    import math

    q = float(exact_sum) / len(vals)
    model = math.floor(q * 100 + 0.5) / 100
    assert abs(row.a - model) < 1e-9


@given(
    iv=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 20)), min_size=1, max_size=15
    )
)
@SETTINGS
def test_overlap_matches_python_reference_model(spark, iv):
    """runtime_overlap == the reference's nested loop (report_generator.py:
    92-112) with clamp and max(len,1) divisor, on arbitrary intervals."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.joins import (
        runtime_overlap,
    )

    data = [(i, s, s + d) for i, (s, d) in enumerate(iv)]
    df = spark.createDataFrame(data, ["id", "start", "end"])
    got = {
        r.id: r.overlap_score
        for r in runtime_overlap(
            df, id_col="id", start_col="start", end_col="end", demo_max_rows=100
        ).collect()
    }
    for i, s1, e1 in data:
        total = 0
        for j, s2, e2 in data:
            if i == j:
                continue
            ov = min(e1, e2) - max(s1, s2)
            if ov > 0:
                import math

                total += math.floor(ov / max(e1 - s1, 1) * 1_000_000)
        assert abs(got[i] - total / 1_000_000) < 1e-9, (i, got[i], total)


asof_strategy = st.tuples(
    st.lists(  # left: (id, key, t)
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.lists(  # right: (key, t)
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=25
    ),
)


@given(asof_strategy)
@SETTINGS
def test_asof_join_matches_python_model(spark, data):
    """asof_backward_join vs the obvious O(n*m) Python model on arbitrary
    keys/timestamps (duplicate ts, empty right side, all-later right rows)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.joins import asof_backward_join

    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)], ["id", "key", "t"]
    )
    right_schema = "key INT, rt INT"
    right = spark.createDataFrame(right_rows or [], right_schema)
    got = {
        r.id: r.asof_ts
        for r in asof_backward_join(
            left, right, key="key", left_ts="t", right_ts="rt"
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [rt for (rk, rt) in right_rows if rk == k and rt <= t]
        assert got[i] == (max(cands) if cands else None), (i, k, t)


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=15,
)


@given(texts=docs_strategy)
@SETTINGS
def test_global_ordinal_is_a_permutation_of_the_sorted_order(spark, texts):
    data = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.transform import (
        global_ordinal,
    )

    keyed = df.select("doc_id", F.md5(F.col("text")).alias("k"))
    out = global_ordinal(keyed, ["k", "doc_id"], out_col="pos", partitions=3)
    got = [(r.doc_id) for r in out.orderBy("pos").collect()]
    expect = [d for d, _ in sorted(data, key=lambda t: (__import__("hashlib").md5(t[1].encode()).hexdigest(), t[0]))]
    assert got == expect


@given(texts=docs_strategy, n=st.integers(min_value=2, max_value=4))
@SETTINGS
def test_contamination_counts_match_python_model(spark, texts, n):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx

    data = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    eval_df = df.filter(F.col("doc_id") % 3 == 0)
    train = df.filter(F.col("doc_id") % 3 != 0)

    def grams(t):
        toks = [w for w in t.strip().lower().split() if w]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    eval_g = set().union(*(grams(t) for i, t in data if i % 3 == 0), set())
    expect = {}
    for i, t in data:
        if i % 3 == 0:
            continue
        g = grams(t)
        hits = len(g & eval_g)
        if hits:
            expect[i] = (hits, len(g))
    got = {
        r.doc_id: (r.n_hits, r.n_grams)
        for r in tx.contamination_counts(train, eval_df, "text", "doc_id", n=n).collect()
    }
    assert got == expect


texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@given(texts=texts_strategy)
@SETTINGS
def test_passage_dedup_matches_python_model(spark, texts):
    """passage_dedup vs a plain-Python first-wins model: same surviving
    passages, same reassembly, docs losing every passage vanish."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.dedup import (
        passage_dedup,
    )

    n = 3
    data = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
        for r in passage_dedup(df, "text", "doc_id", passage_tokens=n).collect()
    }

    seen: set[str] = set()
    expect = {}
    for i, t in data:
        toks = t.split()
        passages = [" ".join(toks[s : s + n]) for s in range(0, len(toks), n)]
        kept = []
        for p in passages:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        if kept:
            expect[i] = (" ".join(kept), len(kept), len(passages) - len(kept))
    assert got == expect


corpus_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=10,
)


@given(inc_texts=corpus_strategy, corp_texts=corpus_strategy)
@SETTINGS
def test_dedup_against_corpus_matches_python_model(spark, inc_texts, corp_texts):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.dedup import (
        dedup_against_corpus,
    )

    n = 3
    thr = 0.8
    inc = spark.createDataFrame(list(enumerate(inc_texts)), ["doc_id", "text"])
    corp = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(corp_texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.containment
        for r in dedup_against_corpus(
            inc, corp, "text", "doc_id", shingle_n=n, containment_threshold=thr
        ).collect()
    }

    def sh(text: str) -> set[str]:
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    corp_texts_set = set(corp_texts)
    corp_grams = set().union(*(sh(t) for t in corp_texts))
    expect = {}
    for i, t in enumerate(inc_texts):
        if t in corp_texts_set:
            continue  # exact dup dropped
        grams = sh(t)
        import math

        containment = math.floor(len(grams & corp_grams) / len(grams) * 1e6 + 0.5) / 1e6
        if containment < thr:
            expect[i] = containment
    assert got == expect


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # start
        st.integers(min_value=0, max_value=200),  # duration (0 = zero-length)
    ),
    min_size=1,
    max_size=25,
)


@given(ivs=intervals_strategy, bin_width=st.sampled_from([1, 7, 64, 300, 10_000]))
@SETTINGS
def test_binned_overlap_matches_python_model(spark, ivs, bin_width):
    """binned_runtime_overlap == the O(n²) Python model for ANY intervals and
    ANY bin width (pairs spanning many bins count once; zero-length intervals
    divide by max(len,1); partner-less rows score 0)."""
    import math

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.joins import (
        binned_runtime_overlap,
    )

    data = [(i, s, s + d) for i, (s, d) in enumerate(ivs)]
    expect = {}
    for i, s, e in data:
        total = 0
        for j, s2, e2 in data:
            if j != i and s2 < e and e2 > s:
                ov = min(e, e2) - max(s, s2)
                total += math.floor(ov / max(e - s, 1) * 1_000_000)
        expect[i] = total / 1_000_000
    df = spark.createDataFrame(data, ["id", "s", "e"])
    got = {
        r.id: r.overlap_score
        for r in binned_runtime_overlap(
            df, id_col="id", start_col="s", end_col="e", bin_width=bin_width
        ).collect()
    }
    assert got == expect


snapshot_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),  # id (collisions dedup below)
        st.text(alphabet="abc", max_size=3),  # content
    ),
    max_size=20,
)


@given(old_rows=snapshot_strategy, new_rows=snapshot_strategy)
@SETTINGS
def test_cdc_diff_apply_roundtrip_matches_model(spark, old_rows, new_rows):
    """apply(old, diff(old, new)) == new for ANY pair of snapshots, and the
    diff's change kinds match a Python dict model."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.cdc import (
        apply_changes,
        snapshot_diff,
    )

    old = {k: v for k, v in old_rows}
    new = {k: v for k, v in new_rows}
    schema = "id LONG, text STRING"
    old_df = spark.createDataFrame(list(old.items()), schema)
    new_df = spark.createDataFrame(list(new.items()), schema)

    expect_kinds = {}
    for k in old.keys() | new.keys():
        if k not in old:
            expect_kinds[k] = "added"
        elif k not in new:
            expect_kinds[k] = "removed"
        elif old[k] != new[k]:
            expect_kinds[k] = "changed"
    delta = snapshot_diff(old_df, new_df, "id", ["text"], include_payload=True)
    assert {r.id: r.change_type for r in delta.collect()} == expect_kinds

    applied = {r.id: r.text for r in apply_changes(old_df, delta, "id", ["text"]).collect()}
    assert applied == new


@given(
    items=st.lists(st.text(alphabet="xyz", min_size=1, max_size=2), min_size=1, max_size=40),
    n_shards=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_cm_sketch_never_undercounts_and_merge_is_shard_invariant(spark, items, n_shards):
    """Count-Min: for ANY item multiset and ANY sharding, (a) the merged
    sketch equals the whole-data sketch element-wise, (b) point estimates
    never undercount the true frequency."""
    from collections import Counter

    from cloudcomputing_servicecompositiontest_datapipeline_spark.functions.sketch import (
        cm_merge,
        cm_query,
        cm_sketch,
    )

    exact = Counter(items)
    df = spark.createDataFrame(
        [(it, i % n_shards) for i, it in enumerate(items)], "item STRING, shard INT"
    )
    whole = cm_sketch(df, "item", [], depth=2, width=16)
    merged = cm_merge(cm_sketch(df, "item", ["shard"], depth=2, width=16))
    assert whole.collect()[0].cm == merged.collect()[0].cm

    probe = spark.createDataFrame([(k,) for k in exact], "item STRING")
    est = {
        r.item: r.cm_estimate
        for r in cm_query(probe.crossJoin(whole), F.col("item"), depth=2, width=16).collect()
    }
    for k, n in exact.items():
        assert est[k] >= n


@given(
    n_boilerplate=st.integers(min_value=200, max_value=1000),
    cap=st.sampled_from([8, 16, 32]),
)
@SETTINGS
def test_lsh_bucket_cap_bounds_candidate_pairs_under_skew(spark, n_boilerplate, cap):
    """Degenerate-bucket skew stress (1k-identical-docs shape): every
    boilerplate copy lands in the SAME band buckets, so uncapped candidate
    generation is quadratic — n·(n-1)/2 pairs from the blob alone.  With
    ``max_bucket_size`` the over-cap buckets are dropped and the candidate
    count stays bounded by bands·cap²/2 regardless of blob size (linear-in-n
    work overall), while distinct near-dup pairs outside the blob survive.
    The dropped members are exact duplicates — exact_dedup's job, asserted
    here too, so nothing is lost end-to-end."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import dedup as dd

    boiler = [(i, "cookie policy accept terms and conditions apply now") for i in range(n_boilerplate)]
    distinct_pair = [
        (100_000, "the quick brown fox jumps over the lazy dog today"),
        (100_001, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(boiler + distinct_pair, ["doc_id", "text"])
    sig = dd.minhash_signatures(df, "text", "doc_id", num_hashes=16)
    bands, rows_per_band = 4, 4
    capped = dd.lsh_candidate_pairs(
        sig, "doc_id", bands=bands, rows_per_band=rows_per_band, max_bucket_size=cap
    )
    n_capped = capped.count()
    # hard bound: <= bands * C(cap, 2); the blob's quadratic pair set never materializes
    assert n_capped <= bands * cap * (cap - 1) // 2
    # the genuinely-near (non-identical) pair still surfaces
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100_000, 100_001) in got
    # the dropped blob members are exact duplicates -> exact dedup catches them linearly
    exact = dd.exact_dedup(df, "text", "doc_id")
    blob = exact.filter(F.col("n_copies") == n_boilerplate).collect()
    assert len(blob) == 1 and blob[0].keep_id == 0


keys_strategy = st.lists(
    st.integers(min_value=0, max_value=40).map(lambda i: f"k{i}"),
    min_size=0,
    max_size=25,
)


@given(inc_keys=keys_strategy, corp_keys=keys_strategy)
@SETTINGS
def test_bloom_prefiltered_anti_join_matches_plain_anti_join(spark, inc_keys, corp_keys):
    """X24 exactness law: whatever the overlap structure, duplicates or FPR,
    the Bloom-prefiltered anti-join returns exactly the rows a
    plain left_anti returns (Bloom has no false negatives; positives are
    re-verified).  A tiny 256-bit filter forces plenty of false positives so
    the verify branch is actually exercised."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.bloom import (
        prefiltered_anti_join,
    )

    inc = spark.createDataFrame(
        list(enumerate(inc_keys)), "row_id long, key string"
    ) if inc_keys else spark.createDataFrame([], "row_id long, key string")
    corp = spark.createDataFrame(
        [(k,) for k in corp_keys], "key string"
    ) if corp_keys else spark.createDataFrame([], "key string")
    expect = sorted(r.row_id for r in inc.join(corp, "key", "left_anti").collect())
    got = sorted(
        r.row_id
        for r in prefiltered_anti_join(inc, corp, "key", num_bits=256, num_hashes=3).collect()
    )
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_cluster_canonical_matches_union_find(spark, canonical_both_paths, edges):
    """Both CC paths — the driver union-find and the pointer-jumped
    min-label loop — must equal this independent union-find on ANY pair
    graph (chains, stars, cycles, self-loops, disconnected nodes): the
    jump may only accelerate convergence, never change the fixpoint."""
    n = 26
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min node id in the component
    comp = {}
    for x in range(n):
        comp.setdefault(find(x), []).append(x)
    expect = {x: min(members) for members in comp.values() for x in members}

    docs = spark.createDataFrame([(i, "t") for i in range(n)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        edges or [(0, 0)], ["id_a", "id_b"]
    ).filter(F.col("id_a") != F.col("id_b"))
    got = {
        r.doc_id: r.canonical_id
        for r in canonical_both_paths(docs, pairs, "doc_id")
    }
    assert got == expect


# --------------------------------------------- X43 winnowing (property)

_words_st = st.lists(
    st.sampled_from(["ba", "ne", "to", "ri", "lum", "ka", "shi", "or", "qe", "vu"]),
    min_size=0,
    max_size=40,
)
_winnow_docs_st = st.lists(_words_st, min_size=1, max_size=8)


def _winnow_model(tokens, k=5, w=4):
    """Pure-Python winnowing reference (Schleimer et al. 2003, word grams,
    first-8-hex-digits-of-md5 hashes — the operator's exact scheme)."""
    import hashlib

    if len(tokens) < k:
        return 0, []
    hashes = [
        int(hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(tokens) - k + 1)
    ]
    if len(hashes) < w:
        sel = hashes
    else:
        sel = [min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)]
    return len(hashes), sorted(set(sel))


@given(docs=_winnow_docs_st)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_winnow_fingerprints_match_python_model(spark, docs):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: (r.n_grams, list(r.fingerprints))
        for r in tx.winnow_fingerprints(df, "text", "doc_id", k=5, window=4).collect()
    }
    for i, ws in enumerate(docs):
        # empty docs normalize to [""] (split semantics), like the operator
        toks = " ".join(ws).split(" ") if ws else [""]
        assert got[i] == _winnow_model(toks), (i, ws)


# ------------------------------------------ X52 sequence packing (property)


@given(
    toks=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=60),
    ctx=st.sampled_from([128, 1000, 4096]),
    shards=st.sampled_from([1, 3, 8]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_sequences_offsets_reconstruct_stream(spark, toks, ctx, shards):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tok LONG")
    got = cu.pack_sequences_sharded(df, "n_tok", "doc_id", context_len=ctx, n_shards=shards).collect()
    # zero-token docs are excluded by contract (ambiguous exporter order)
    assert len(got) == sum(1 for t in toks if t > 0)
    import collections

    by_shard = collections.defaultdict(list)
    for r in got:
        by_shard[r.shard].append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: (r.pack_id, r.offset_in_pack, r.doc_id))
        cum = 0
        for r in rs:
            assert (r.pack_id, r.offset_in_pack) == (cum // ctx, cum % ctx)
            cum += r.n_tokens


# --------------------------------------------------- X44 BM25 (property)


def _bm25_model(texts, queries, k1=1.2, b=0.75, topk=10):
    """Pure-Python BM25 reference (Lucene non-negative idf), the operator's
    exact math including the 1e-6 floor-round before ranking."""
    import collections
    import math
    import re

    docs = {}
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        docs[i] = [w for w in norm.split(" ") if w]
    n_docs = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n_docs
    dfreq = collections.Counter()
    for toks in docs.values():
        for w in set(toks):
            dfreq[w] += 1
    out = []
    for qid, terms in queries:
        scores = {}
        for i, toks in docs.items():
            tf = collections.Counter(toks)
            s = 0.0
            hit = False
            for t in terms:
                if tf[t] == 0 or dfreq[t] == 0:
                    continue
                hit = True
                idf = math.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
                tfn = tf[t] * (k1 + 1.0) / (tf[t] + k1 * (1.0 - b + b * len(toks) / avgdl))
                s += idf * tfn
            if hit:
                scores[i] = math.floor(s * 1e6 + 0.5) / 1e6
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
        out.extend((qid, doc, sc, r + 1) for r, (doc, sc) in enumerate(ranked))
    return sorted(out)


_bm25_words = ["spark", "scan", "join", "sort", "hash", "agg", "row", "col"]
_bm25_texts_st = st.lists(
    st.lists(st.sampled_from(_bm25_words), min_size=1, max_size=25).map(" ".join),
    min_size=2,
    max_size=12,
)


@given(texts=_bm25_texts_st, qterms=st.lists(st.sampled_from(_bm25_words + ["missing"]), min_size=1, max_size=3, unique=True))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_bm25_matches_python_model(spark, texts, qterms):
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    got = sorted(
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in tx.bm25_topk(df, "text", "doc_id", [("q", qterms)], topk=10).collect()
    )
    want = _bm25_model(texts, [("q", qterms)])
    # scores are floats: compare rank structure exactly, scores to 1e-9
    assert [(a, b, d) for a, b, _, d in got] == [(a, b, d) for a, b, _, d in want]
    for (_, _, s1, _), (_, _, s2, _) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


strata_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),      # id (may collide -> dedup below)
        st.sampled_from(["a", "b", "c", None]),          # stratum (incl. NULL stratum)
    ),
    min_size=1,
    max_size=60,
)


@given(rows=strata_strategy, salt=st.sampled_from(["s0", "s1"]))
@SETTINGS
def test_stratified_split_properties(spark, rows, salt):
    """For ANY input: per-stratum counts hit round(f*n) exactly, every doc
    is assigned exactly once, and the assignment is a pure function of
    (salt, id) within its stratum."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.curation import stratified_split

    rows = list({r[0]: r for r in rows}.values())  # unique ids
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = stratified_split(df, "doc_id", "lang", train=0.6, val=0.2, salt=salt).collect()
    assert len(out) == len(rows)
    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    for r in out:
        per[r.stratum][r.split] += 1
    for stratum, c in per.items():
        n = sum(c.values())
        want_train = int(0.6 * n + 0.5)
        want_val = int((0.6 + 0.2) * n + 0.5) - want_train
        assert c["train"] == want_train, (stratum, dict(c))
        assert c["val"] == want_val, (stratum, dict(c))
        assert c["test"] == n - want_train - want_val


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=50,
    )
)
@SETTINGS
def test_quantile_normalize_properties(spark, vals):
    """quantile in [0,1]; monotone with the value inside each group; equal
    values share a quantile; the group minimum is 0.0."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.curation import quantile_normalize

    vals = list({v[0]: v for v in vals}.values())
    df = spark.createDataFrame(vals, "doc_id LONG, lang STRING, v LONG")
    out = quantile_normalize(df, "v", "lang", "doc_id").collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in out:
        assert 0.0 <= r.quantile <= 1.0
        per[r.group].append((r.value, r.quantile))
    for g, pairs in per.items():
        pairs.sort()
        assert pairs[0][1] == 0.0
        for (v1, q1), (v2, q2) in zip(pairs, pairs[1:]):
            assert q1 <= q2
            if v1 == v2:
                assert q1 == q2


@given(
    texts=st.lists(
        st.text(alphabet="ab \x01\x1e\x1f", min_size=0, max_size=24),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(min_value=1, max_value=6),
)
@SETTINGS
def test_bpe_encoders_agree_on_arbitrary_text(spark, texts, n_merges):
    """The string-rewrite fold encoder and the rank-priority pandas encoder
    must agree token-for-token on ANY input — including delimiter chars and
    whitespace runs — for merges learned from that same corpus."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    merges = bpe.bpe_train(df, "text", n_merges=n_merges)
    a = {r.doc_id: r.tokens for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()}
    b = {r.doc_id: r.tokens for r in bpe.bpe_encode_pandas(df, "text", "doc_id", merges).collect()}
    assert a == b


@given(
    vals=st.lists(
        st.floats(
            allow_nan=False,
            allow_infinity=False,
            min_value=-1e6,
            max_value=1e6,
        ),
        min_size=1,
        max_size=18,
    ),
    fracs=st.lists(
        st.floats(min_value=0.0, max_value=1.0), min_size=1, max_size=6
    ),
)
@SETTINGS
def test_exact_quantiles_reduced_equals_percentile_aggregate(spark, vals, fracs):
    """Property form of the r7 swap: _exact_quantiles_reduced must return
    BIT-identical doubles to Spark's exact ``percentile`` aggregate on
    arbitrary float multisets and arbitrary fraction lists (integral
    positions, ties, duplicate fractions, p=0/1 included by the
    endpoints the strategy can draw) — ``==`` on the raw doubles, no
    tolerance, because the swap's hash-safety claim is bitwise."""
    from pyspark.sql import functions as SF

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    fracs = [0.0, 1.0] + fracs  # always exercise the endpoints
    df = spark.createDataFrame([(float(v),) for v in vals], "v DOUBLE")
    expected = df.select(
        SF.percentile(SF.col("v").cast("double"), SF.lit(fracs)).alias("q")
    ).first()["q"]
    got = cu._exact_quantiles_reduced(df, SF.col("v"), fracs)
    assert got == [float(x) for x in expected]


@given(
    new_vals=st.lists(
        st.integers(min_value=-5, max_value=8), min_size=1, max_size=24
    ),
    ref_vals=st.lists(
        st.integers(min_value=-3, max_value=12), min_size=1, max_size=16
    ),
    grid=st.sampled_from([4, 10]),
)
@SETTINGS
def test_quantile_map_matches_percent_rank_model(spark, new_vals, ref_vals, grid):
    """The histogram-CDF rewrite of quantile_map (per-value counts + running
    sum, no corpus-sized window) must be BIT-identical to the definitional
    percent_rank model: pr(x) = (# rows < x)/(n-1) with ties sharing the
    minimum rank, then linear interpolation into the reference quantile
    curve.  The model below re-runs Spark's own ``percentile`` for the curve
    and then replicates the plan's double arithmetic operation-for-operation,
    so equality is exact, not approximate — including the round-half-up to 6
    decimals and the 1-row corpus (pr = 0.0) edge."""
    import math

    from pyspark.sql import functions as SF

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    new = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(new_vals)], "id LONG, v DOUBLE"
    )
    ref = spark.createDataFrame([(float(v),) for v in ref_vals], "v DOUBLE")
    got = {
        r.id: (r.quantile, r.mapped_value)
        for r in cu.quantile_map(new, ref, "v", "id", grid=grid).collect()
    }

    curve = ref.select(
        SF.percentile(SF.col("v").cast("double"), SF.lit([i / grid for i in range(grid + 1)]))
    ).first()[0]
    curve = [float(x) for x in curve]
    n = len(new_vals)
    mult = float(10**6)
    expect = {}
    for i, x in enumerate(new_vals):
        pr = (sum(1 for y in new_vals if y < x) / float(n - 1)) if n > 1 else 0.0
        idx = pr * grid
        lo = int(math.floor(idx))
        frac = idx - lo
        q_lo = curve[lo]
        q_hi = curve[min(lo + 1, grid)]
        mapped = q_lo + frac * (q_hi - q_lo)
        expect[i] = (
            math.floor(pr * mult + 0.5) / mult,
            math.floor(mapped * mult + 0.5) / mult,
        )
    assert got == expect


@given(
    doc_texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=10).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    ref_texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=10).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=2, max_value=4),
)
@SETTINGS
def test_novelty_scores_match_python_model(spark, doc_texts, ref_texts, n):
    """X83 novelty vs a plain-Python n-gram model on arbitrary corpora —
    including docs shorter than n tokens (novelty NULL, not 1.0) and a
    reference whose docs are all too short (every gram novel)."""
    import math

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx

    df = spark.createDataFrame(list(enumerate(doc_texts)), ["doc_id", "text"])
    ref = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(ref_texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.n_grams, r.n_seen, r.novelty)
        for r in tx.novelty_scores(df, ref, "text", "doc_id", n=n).collect()
    }

    def grams(t):
        toks = [w for w in t.strip().lower().split() if w]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    ref_g = set().union(*(grams(t) for t in ref_texts), set())
    expect = {}
    for i, t in enumerate(doc_texts):
        g = grams(t)
        seen = len(g & ref_g)
        nov = (
            math.floor((len(g) - seen) / len(g) * 1e6 + 0.5) / 1e6 if g else None
        )
        expect[i] = (len(g), seen, nov)
    assert got == expect


@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # user
            st.lists(
                st.integers(min_value=0, max_value=400_000),  # event epochs (s)
                min_size=1,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=8,
    ),
    horizon=st.sampled_from([1.0, 24.0]),
)
@SETTINGS
def test_survival_curve_matches_kaplan_meier_model(spark, users, horizon):
    """X77 survival_curve vs a plain-Python Kaplan-Meier product-limit
    model: lifetimes from per-user first/last, churn vs right-censoring at
    the horizon, at-risk counts from the full-lifetime histogram, survival
    as the running product over observed churn times."""
    import math

    from hypothesis import assume

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import features as ft

    rows = [
        (u, int(e), i)
        for i, (u, epochs) in enumerate(users)
        for e in epochs
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ep LONG, g LONG").select(
        "user_id", F.timestamp_seconds(F.col("ep")).alias("ts")
    )
    got = {
        r.lifetime_h: (r.d, r.n_at_risk, r.survival)
        for r in ft.survival_curve(df, horizon_hours=horizon).collect()
    }

    # Python model on the raw epochs
    per_user = {}
    for u, e, _ in rows:
        lo, hi = per_user.get(u, (e, e))
        per_user[u] = (min(lo, e), max(hi, e))
    end = max(e for _, e, _ in rows)
    rnd = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    lifetimes = []
    for u, (lo, hi) in per_user.items():
        lifetimes.append((rnd((hi - lo) / 3600.0), (end - hi) / 3600.0 > horizon))
    n_total = len(lifetimes)
    expect = {}
    log_acc = 0.0
    for t in sorted({t for t, ch in lifetimes if ch}):
        d = sum(1 for lt, ch in lifetimes if ch and lt == t)
        n_risk = n_total - sum(1 for lt, _ in lifetimes if lt < t)
        if d >= n_risk:
            # whole risk set churns here: survival exactly 0 (necessarily
            # the last curve row — nobody outlives it)
            expect[t] = (d, n_risk, 0.0)
            continue
        log_acc += math.log(1.0 - d / n_risk)
        s_raw = math.exp(log_acc) * 1e6 + 0.5
        # skip adversarial round-boundary cases: the engine quantizes each
        # ln term to decimal(28,12) before summing, the model uses floats
        assume(abs(s_raw - round(s_raw)) > 1e-6 or s_raw == round(s_raw))
        expect[t] = (d, n_risk, math.floor(s_raw) / 1e6)
    assert got == expect


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=50),  # ts epoch (collisions likely)
            st.sampled_from(["a", "b", "c"]),  # event_type
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_transition_matrix_matches_python_model(spark, evs):
    """X76 transition matrix vs a plain-Python first-order Markov model:
    per-user streams ordered by (ts, event_id) with ties, row-normalized
    probabilities from exact counts."""
    import math
    from collections import Counter, defaultdict

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import features as ft

    rows = [(u, t, k, i) for i, (u, t, k) in enumerate(evs)]
    df = spark.createDataFrame(
        rows, "user_id LONG, ep LONG, event_type STRING, event_id LONG"
    ).select("user_id", F.timestamp_seconds("ep").alias("ts"), "event_type", "event_id")
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.probability)
        for r in ft.transition_matrix(df).collect()
    }

    streams = defaultdict(list)
    for u, t, k, i in rows:
        streams[u].append((t, i, k))
    trans = Counter()
    for s in streams.values():
        s.sort()
        for (_, _, a), (_, _, b) in zip(s, s[1:]):
            trans[(a, b)] += 1
    row_tot = Counter()
    for (a, _), n in trans.items():
        row_tot[a] += n
    expect = {
        (a, b): (n, math.floor(n / row_tot[a] * 1e6 + 0.5) / 1e6)
        for (a, b), n in trans.items()
    }
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),  # group
            st.integers(min_value=0, max_value=4),  # source
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_concentration_report_matches_python_model(spark, rows):
    """X81 HHI concentration report vs the definitional Σ share² model."""
    import math
    from collections import Counter

    from hypothesis import assume

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu

    df = spark.createDataFrame(
        [(g, s, i) for i, (g, s) in enumerate(rows)], "lang STRING, src LONG, id LONG"
    )
    got = {
        r.group: (r.n_sources, r.n_docs, r.hhi, r.top_share)
        for r in cu.concentration_report(df, "lang", "src").collect()
    }
    counts = Counter(rows)
    expect = {}
    for g in {g for g, _ in rows}:
        per = {s: n for (gg, s), n in counts.items() if gg == g}
        tot = sum(per.values())
        hhi_raw = sum((n / tot) ** 2 for n in per.values()) * 1e6 + 0.5
        top_raw = max(per.values()) / tot * 1e6 + 0.5
        # engine quantizes each share^2 to decimal(28,12) before summing;
        # skip only the astronomically-thin round-boundary band
        assume(abs(hhi_raw - round(hhi_raw)) > 1e-6 or hhi_raw == round(hhi_raw))
        expect[g] = (
            len(per),
            tot,
            math.floor(hhi_raw) / 1e6,
            math.floor(top_raw) / 1e6,
        )
    assert got == expect


# ----------- structural repetition, boilerplate, span coverage, k-fold
# and length batching against plain-Python models on generated corpora


CORPUS_SETTINGS = settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)

_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_line = st.lists(_word, min_size=1, max_size=4).map(" ".join)
_doc = st.lists(_line, min_size=0, max_size=6).map("\n".join)
docs_st = st.lists(_doc, min_size=1, max_size=12)


def _grid(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


@given(texts=docs_st)
@CORPUS_SETTINGS
def test_structural_repetition_matches_python_model(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_lines, r.dup_line_ratio, r.dup_line_char_ratio)
        for r in tx.structural_repetition(df, "text", "doc_id").collect()
    }
    for i, t in enumerate(texts):
        lines = [s.strip() for s in t.split("\n") if s.strip()]
        if not lines:
            assert got[i] == (0, None, None)
            continue
        n, nd = len(lines), len(set(lines))
        chars = sum(len(s) for s in lines)
        dchars = sum(len(s) for s in set(lines))
        want = (
            n,
            _grid((n - nd) / n),
            _grid((chars - dchars) / chars) if chars else None,
        )
        assert got[i] == want, (i, t)


@given(texts=docs_st, min_df=st.integers(min_value=2, max_value=4))
@CORPUS_SETTINGS
def test_remove_boilerplate_matches_python_model(spark, texts, min_df):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.clean_text, r.n_lines_kept, r.n_lines_removed)
        for r in tx.remove_boilerplate_lines(
            df, "text", "doc_id", min_df=min_df
        ).collect()
    }
    split = [[s.strip() for s in t.split("\n") if s.strip()] for t in texts]
    from collections import Counter

    freq = Counter(ln for lines in split for ln in lines)
    for i, lines in enumerate(split):
        kept = [ln for ln in lines if freq[ln] < min_df]
        want = ("\n".join(kept), len(kept), len(lines) - len(kept))
        assert got[i] == want, (i, lines)


@given(
    texts=st.lists(
        st.lists(_word, min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(min_value=2, max_value=4),
)
@CORPUS_SETTINGS
def test_span_coverage_matches_python_model(spark, texts, k):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens, r.dup_span_frac)
        for r in dd.repeated_span_coverage(df, "text", "doc_id", k=k).collect()
    }
    from collections import Counter

    toks = [t.split(" ") for t in texts]
    grams: Counter = Counter()
    per_doc = []
    for tk in toks:
        n = len(tk)
        occ = [
            (p, " ".join(tk[p : p + k]))
            for p in range(0, max(n - k, 0) + 1)
        ]
        per_doc.append(occ)
        grams.update(g for _, g in occ)
    for i, tk in enumerate(toks):
        n = len(tk)
        covered = set()
        for p, g in per_doc[i]:
            if grams[g] >= 2:
                covered.update(range(p, p + k))
        cov = min(len(covered), n)
        want = (n, cov, _grid(cov / n) if n else None)
        assert got[i] == want, (i, tk)


@given(
    n_rows=st.integers(min_value=1, max_value=60),
    k=st.integers(min_value=2, max_value=7),
    strat=st.booleans(),
)
@CORPUS_SETTINGS
def test_kfold_partitions_every_row_exactly_once(spark, n_rows, k, strat):
    rows = [(i, "s" + str(i % 3)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = cu.kfold_assign(
        df, "doc_id", k=k, strata_col="lang" if strat else None
    ).collect()
    assert sorted(r.doc_id for r in out) == list(range(n_rows))
    assert all(0 <= r.fold < k for r in out)
    if strat:
        by: dict = {}
        for r in out:
            by.setdefault(r.stratum, []).append(r.fold)
        for folds in by.values():
            counts = [folds.count(f) for f in range(k)]
            assert max(counts) - min(counts) <= 1


@given(
    toks=st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=60),
    batch_size=st.integers(min_value=1, max_value=9),
    n_shards=st.integers(min_value=1, max_value=4),
)
@CORPUS_SETTINGS
def test_batch_by_length_matches_python_model(spark, toks, batch_size, n_shards):
    import hashlib

    rows = list(enumerate(toks))
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = cu.batch_by_length(
        df, "n_tok", "doc_id", batch_size=batch_size, n_shards=n_shards
    ).collect()
    # model: identical md5 shard deal, per-shard sort, fixed cuts
    def shard(i: int) -> int:
        return int(hashlib.md5(f"b0:{i}".encode()).hexdigest()[:6], 16) % n_shards

    kept = [(i, t) for i, t in rows if t > 0]
    want = {}
    for s in range(n_shards):
        members = sorted(
            ((t, i) for i, t in kept if shard(i) == s),
            key=lambda x: (-x[0], x[1]),
        )
        for rn, (t, i) in enumerate(members):
            b = rn // batch_size
            batch = members[b * batch_size : (b + 1) * batch_size]
            mx = max(t2 for t2, _ in batch)
            want[i] = (s, b, t, mx, mx - t)
    got = {
        r.doc_id: (r.shard, r.batch_id, r.n_tokens, r.batch_max_tokens, r.pad_tokens)
        for r in out
    }
    assert got == want
