"""Driver-contract invariants: the registry shape the round driver consumes.

The driver records correctness rows for only the FIRST 50 queries it
receives (observed r1), so the window ordering IS part of the product —
these tests keep it from silently rotting as queries are added.
"""

from __future__ import annotations

from cloudcomputing_servicecompositiontest_datapipeline_spark.plans import registry

registry.load_all()

#: rows-only queries allowed inside the driver window: non-SQL-expressible
#: ops (xxhash64 banding/bucketing, implementation-defined estimates, binary
#: multimodal) whose correctness is pinned by pytest instead.
ROWS_ONLY_ALLOWED = {
    # dedup_simhash, dedup_minhash_lsh and dedup_cluster_canonical_lsh left
    # this set in r7; similarity_lsh_topk, similarity_jl_projection and
    # sketch_frequency_heavy_hitters left it in r8, then sketch_distinct_
    # rollup (portable-HLL registers→max-merge→decimal-exact estimate) and
    # similarity_ivf_topk (seed-vector quantizer by md5 rank + decimal-exact
    # assignment): those declared queries now run engine-portable modes and
    # are fully oracle-checked (production xxhash64/DataSketches/Lloyd's
    # modes stay pytest/eval-pinned).
    "multimodal_decode",
    # r3 window additions: binary features are implementation-defined.
    # (dedup_lsh_eval left this set in r8: its declared mode now runs the
    # shared md5-LSH CTEs end to end, truth + P/R oracle-checked;
    # sketch_quantile_rollup left in r7 with its KLL→exact-quantile twin.)
    "multimodal_features",
    # similarity_ann_eval and similarity_ann_sweep left this set in r8's
    # second pass: their declared forms now run the portable md5_32-LSH +
    # seed-vector-IVF modes, so truth, candidates, and every recall point
    # are oracle-checked (production xxhash64/Lloyd's floors stay in
    # tests/test_extensions.py).
    # r4 window: finishing the never-checked sweep pulls in the remaining
    # rows-only-by-design queries — streaming batch-twins (incremental
    # micro-batch semantics aren't one SQL statement), the xxhash64-seeded /
    # learned-codebook compression ops (PQ/int8/JL outputs are
    # implementation-defined but pinned by recall/distortion pytest floors),
    # k-means semantic-dedup centroids, and the learned-merge BPE outputs
    # (training argmax sequence pinned against a pure-Python reference).
    "streaming_available_now",
    "streaming_dedup_on_arrival",
    "streaming_stateful_lifetimes",
    "streaming_source_quota",
    # dedup_semantic_centroids left this set in r8's second pass: the
    # declared form blocks on the seed-vector quantizer with decimal-exact
    # assignment/dots, and the CC fixpoint is the recursive-CTE oracle
    # (numpy Lloyd's production mode stays pinned by the cluster-agreement
    # tests).
    # similarity_pq_encode left this set in r8: seed codebooks by md5 rank
    # + decimal-exact per-subspace assignment (the IVF precedent); then
    # similarity_pq_eval in r8's second pass (decimal ADC against the
    # flattened reconstructed vector + integer-sum recall recomposition
    # made the whole two-stage eval portable).
    # similarity_jl_eval left this set in r8: md5_32 signs + decimal-exact
    # statistics made the whole distortion eval oracle-checkable; then
    # similarity_quantized_recall (integer-sum mean, NULLS LAST rank
    # windows — every other step was already portable arithmetic).
    "text_bpe_merges",
    "text_bpe_encode",
    # r5 window: the compression-ratio signal's deflate byte counts are
    # zlib-build-dependent (monotonicity pytest-pinned instead), and the
    # online burst monitor's z-scores depend on arrival order by
    # construction (each window judged against only its past; state
    # machine pinned in pytest across drains).
    "text_compression_ratio",
    "streaming_burst_monitor",
}


def test_driver_window_is_exactly_50_registered_names():
    w = registry.DRIVER_WINDOW
    assert len(w) == 50
    assert len(set(w)) == 50  # no duplicates eating slots
    missing = [n for n in w if n not in registry.QUERIES]
    assert not missing, f"window names not registered: {missing}"


def test_driver_window_leads_the_ordered_registry():
    ordered = list(registry.ordered_queries())
    assert ordered[:50] == registry.DRIVER_WINDOW


def test_window_rows_only_entries_are_the_declared_exceptions():
    no_oracle = {n for n in registry.DRIVER_WINDOW if n not in registry.ORACLES}
    assert no_oracle <= ROWS_ONLY_ALLOWED, (
        f"unexpected rows-only queries inside the driver window: "
        f"{no_oracle - ROWS_ONLY_ALLOWED}"
    )


def test_rows_only_set_is_exactly_the_declared_exceptions():
    """Strict both ways: a query losing its oracle must be consciously added
    here, and an upgraded query must be REMOVED here (stale allowances hid
    the r7 sketch_quantile_rollup upgrade for a round)."""
    no_oracle = {n for n in registry.QUERIES if n not in registry.ORACLES}
    assert no_oracle == ROWS_ONLY_ALLOWED, (
        f"missing allowance: {no_oracle - ROWS_ONLY_ALLOWED}; "
        f"stale allowance: {ROWS_ONLY_ALLOWED - no_oracle}"
    )


def test_every_oracle_has_a_query():
    dangling = [n for n in registry.ORACLES if n not in registry.QUERIES]
    assert not dangling



def test_oracle_queries_return_no_nested_columns(spark, sf_dir):
    """No oracle-checked query may return a raw array/map/struct column: the
    driver canonicalizes via pandas ``sort_values`` BEFORE stringifying, and
    factorize cannot hash numpy arrays — the failure class behind the r01
    ``report_show_as_list`` and r04 ``text_winnow_fingerprints`` driver reds
    (``TypeError: unhashable type: 'numpy.ndarray'``) while the old local
    gate (stringify-then-sort) stayed green.  Nested outputs must be
    ``array_join``-ed / ``to_json``-ed in the declared query (the
    plans/report.py pattern).  Schema derivation is lazy — no job runs for
    most queries (trainer queries run their bounded collect), and builds
    are independent, so they run on a small thread pool (guide §2.6:
    overlap independent driver work — this was the suite's single slowest
    test at 45 s serial; conf set/restore inside cluster_canonical is a
    no-op collision since parallelismFirst=false became the engine
    posture)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    def _bad(name: str):
        df = registry.QUERIES[name](spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        return (name, bad) if bad else None

    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = [r for r in pool.map(_bad, sorted(registry.ORACLES)) if r]
    assert not offenders, (
        "oracle-checked queries returning nested columns (driver hash "
        f"canonicalization would crash): {offenders}"
    )


def test_bench_contract_shape():
    """bench.py is a driver contract too: it must print ONE JSON line with
    metric/value/unit/queries/sf, and every name it times must be a
    registered query (a rename that forgets bench would otherwise only
    surface as a driver-side crash at round end)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    import __spark_entry__ as em

    qs = set(em.queries())
    timed = bench.HEADLINE + bench.EXTRA + bench.NEW_R3 + bench.NEW_R4 + bench.NEW_R5
    for name in timed:
        assert name in qs, f"bench times unknown query {name!r}"
    # headline set frozen since r1 for cross-round comparability
    assert len(bench.HEADLINE) == 15
    assert len(set(timed)) == len(timed)
    # r11 scaling probes: registered, disjoint from the frozen headline
    # (they ride in the stdout queries map for the driver's low-core ratio
    # measurement but must not change what `value` sums)
    for name in bench.SCALING_PROBES:
        assert name in qs, f"scaling probe is not a registered query: {name!r}"
    assert not set(bench.SCALING_PROBES) & set(bench.HEADLINE)


#: Top-level package definitions no query, tool, bench.py or perfbench
#: reaches, kept because a test pins a live path against them (a reference
#: implementation).  Keyed (package-relative module, name).  What they
#: call is covered through them.
TEST_REFERENCES = {
    ("functions/sketch.py", "hll_portable_merge"): "test_hll_portable_merge_law_and_accuracy pins hll_portable_registers' max-merge law",
    ("functions/sketch.py", "hll_portable_estimate"): "same test pins hll_portable_registers' accuracy against exact distinct counts",
    ("operators/dedup.py", "minhash_signatures"): "test_lsh_bucket_cap_bounds_candidate_pairs_under_skew feeds lsh_candidate_pairs with it",
    ("operators/similarity.py", "_dot_seq"): "test_portable_folds pins the sequential fold _argmin_centroids_seq rests on against DuckDB",
    ("operators/similarity.py", "lsh_bucket"): "test_bucket_structs_matches_unrolled_lsh_bucket pins _bucket_structs bit-for-bit against it",
    ("operators/similarity.py", "pq_train"): "PQ tests encode with its Lloyd's codebooks to pin pq_encode",
    ("operators/text.py", "perplexity_scores"): "test_perplexity_join_path_* pin perplexity_scores_join against this literal-map scorer",
    ("operators/text.py", "train_bigram_lm"): "the model the literal-map perplexity reference scores with",
    ("sources/io.py", "render_report_compat"): "test_golden_layout renders report() through it against the reference's golden CSV",
}


def _unreachable_definitions() -> tuple[list[str], list[str]]:
    """AST reachability over the package: (unreachable top-level definitions
    outside TEST_REFERENCES, stale TEST_REFERENCES keys).

    Roots are the ``@query`` functions, module-level statements (imports
    excepted, so ``__init__`` re-exports reach nothing), decorators,
    defaults and base classes, and every line of ``tools/``, ``bench.py``,
    ``__spark_entry__.py`` and non-test ``perfbench/``.  A name resolves
    through the module's own definitions and its ``from`` imports; an
    attribute on an imported module resolves in that module, and any other
    attribute (``self.x``, ``df.x``) reaches every definition of that name.
    """
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    pkg = repo / registry.__name__.split(".")[0]
    root_files = [
        *sorted((repo / "tools").glob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
        *sorted((repo / "perfbench").glob("*.py")),
    ]
    mods = {}  # dotted name -> (tree, is_package, is_root)
    for f in [*sorted(pkg.rglob("*.py")), *root_files]:
        parts = list(f.relative_to(repo).with_suffix("").parts)
        is_pkg = parts[-1] == "__init__"
        mods[".".join(parts[:-1] if is_pkg else parts)] = (
            ast.parse(f.read_text()), is_pkg, f in root_files,
        )
    defs, by_name = {}, {}
    for m, (tree, _, is_root) in mods.items():
        for node in tree.body if not is_root else ():
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(m, node.name)] = node
                by_name.setdefault(node.name, []).append((m, node.name))

    def aliases(m, tree, is_pkg):
        out = {}  # local name -> ("mod", module) | ("def", (module, name))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                base = m.split(".") if is_pkg else m.split(".")[:-1]
                base = base[: len(base) - node.level + 1] if node.level else []
                src = ".".join(base + ([node.module] if node.module else []))
                for a in node.names:
                    full = f"{src}.{a.name}"
                    out[a.asname or a.name] = ("mod", full) if full in mods else ("def", (src, a.name))
            elif isinstance(node, ast.Import):
                for a in node.names:
                    name = a.name if a.asname else a.name.split(".")[0]
                    out[a.asname or name] = ("mod", name)
        return out

    al = {m: aliases(m, tree, is_pkg) for m, (tree, is_pkg, _) in mods.items()}

    def refs(m, node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                kind, target = al[m].get(n.id, ("def", (m, n.id)))
                if kind == "def":
                    out.add(target)
            elif isinstance(n, ast.Attribute):
                v = n.value
                if isinstance(v, ast.Name) and al[m].get(v.id, ("",))[0] == "mod":
                    out.add((al[m][v.id][1], n.attr))
                else:
                    out.update(by_name.get(n.attr, ()))
        return out

    def resolve(t):  # follow package re-exports to the defining module
        for _ in range(5):  # re-export chains are short; a cycle stops here
            if t in defs or t[0] not in al:
                return t
            kind, target = al[t[0]].get(t[1], ("", None))
            if kind != "def":
                return t
            t = target
        return t

    roots, edges = set(), {}
    for m, (tree, _, is_root) in mods.items():
        if is_root:
            roots |= refs(m, tree)
            continue
        for node in tree.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if (m, getattr(node, "name", None)) not in defs:
                roots |= refs(m, node)
                continue
            edges[(m, node.name)] = refs(m, node)
            for d in node.decorator_list:
                roots |= refs(m, d)
                if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query":
                    roots.add((m, node.name))
            extra = node.bases if isinstance(node, ast.ClassDef) else [
                *node.args.defaults, *filter(None, node.args.kw_defaults)
            ]
            for e in extra:
                roots |= refs(m, e)

    def closure(start):
        seen, stack = set(), [resolve(t) for t in start]
        while stack:
            t = stack.pop()
            if t in defs and t not in seen:
                seen.add(t)
                stack.extend(resolve(r) for r in edges.get(t, ()))
        return seen

    prefix = pkg.name + "."
    key = lambda t: (t[0].removeprefix(prefix).replace(".", "/") + ".py", t[1])
    allowed = {t for t in defs if key(t) in TEST_REFERENCES}
    live = {key(t) for t in closure(roots)}
    stale = sorted(k for k in TEST_REFERENCES if k in live or k not in map(key, defs))
    kept = closure(roots | allowed)
    dead = sorted("{}:{}".format(*key(t)) for t in defs if t not in kept)
    return dead, [f"{f}:{n}" for f, n in stale]


def test_every_package_definition_is_reachable():
    """Ratchet against dead code: every top-level function and class in the
    package is reached from a registered query, a tool, bench.py or
    perfbench — or is a reasoned TEST_REFERENCES entry.  An entry that has
    become reachable, or whose definition is gone, fails too, so the list
    cannot rot (the tools/plan_audit.py allow-list rule)."""
    dead, stale = _unreachable_definitions()
    assert not dead, f"unreachable outside tests (delete, or add a TEST_REFERENCES reason): {dead}"
    assert not stale, f"stale TEST_REFERENCES entries: {stale}"
