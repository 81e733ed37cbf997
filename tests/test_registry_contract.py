"""Driver-contract invariants: the registry shape the round driver consumes.

The driver records correctness rows for only the FIRST 50 queries it
receives (observed r1), so the window ordering IS part of the product —
these tests keep it from silently rotting as queries are added.
"""

from __future__ import annotations

from cloudcomputing_servicecompositiontest_datapipeline_spark.plans import registry

registry.load_all()

#: rows-only queries allowed inside the driver window: non-SQL-expressible
#: ops (implementation-defined estimates, binary multimodal) whose
#: correctness is pinned by pytest instead.
ROWS_ONLY_ALLOWED = {
    # dedup_simhash, dedup_minhash_lsh and dedup_cluster_canonical_lsh left
    # this set in r7; similarity_lsh_topk, similarity_jl_projection and
    # sketch_frequency_heavy_hitters left it in r8, then sketch_distinct_
    # rollup (portable-HLL registers→max-merge→decimal-exact estimate) and
    # similarity_ivf_topk (seed-vector quantizer by md5 rank + decimal-exact
    # assignment): those queries run engine-portable hashes and arithmetic
    # and are fully oracle-checked.  The xxhash64 modes they once switched
    # from were removed because no query used them; Lloyd's-trained
    # centers stay pytest/eval-pinned.
    "multimodal_decode",
    # r3 window additions: binary features are implementation-defined.
    # (dedup_lsh_eval left this set in r8: its declared mode now runs the
    # shared md5-LSH CTEs end to end, truth + P/R oracle-checked;
    # sketch_quantile_rollup left in r7 with its KLL→exact-quantile twin.)
    "multimodal_features",
    # similarity_ann_eval and similarity_ann_sweep left this set in r8's
    # second pass: they run md5 LSH + seed-vector IVF, so truth,
    # candidates, and every recall point are oracle-checked (Lloyd's-IVF
    # floors stay in tests/test_extensions.py).
    # r4 window: finishing the never-checked sweep pulls in the remaining
    # rows-only-by-design queries — streaming batch-twins (incremental
    # micro-batch semantics aren't one SQL statement) and the learned-merge
    # BPE outputs (training argmax sequence pinned against a pure-Python
    # reference); the compression ops and semantic-dedup centroids that
    # were here have since become oracle-checked (below).
    "streaming_available_now",
    "streaming_dedup_on_arrival",
    "streaming_stateful_lifetimes",
    "streaming_source_quota",
    # dedup_semantic_centroids left this set in r8's second pass: the
    # declared form blocks on the seed-vector quantizer with decimal-exact
    # assignment/dots, and the CC fixpoint is the recursive-CTE oracle
    # (Lloyd's-trained blocking stays pinned by the cluster-agreement
    # tests; the pandas-UDF assignment it once used was removed because no
    # query used it).
    # similarity_pq_encode left this set in r8: seed codebooks by md5 rank
    # + decimal-exact per-subspace assignment (the IVF precedent); then
    # similarity_pq_eval in r8's second pass (decimal ADC against the
    # flattened reconstructed vector + integer-sum recall recomposition
    # made the whole two-stage eval portable; the float assignment and ADC
    # modes were later removed because no query used them).
    # similarity_jl_eval left this set in r8: md5 signs + decimal-exact
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
    test at 45 s serial; the registry applies the session conf before each
    build, so concurrent builds all set the same values)."""
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
    metric/value/unit/queries/sf, and every name it times — the headline,
    every GROUPS table, TIER2 and the scaling probes — must be a registered
    query (``bench._time_group`` silently skips an unregistered name, so a
    rename that forgets bench would otherwise drop it from the record
    unseen)."""
    import importlib.util

    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    import __spark_entry__ as em

    qs = set(em.queries())
    timed = bench.HEADLINE + [n for names in bench.GROUPS.values() for n in names]
    for name in [*timed, *bench.TIER2, *bench.SCALING_PROBES]:
        assert name in qs, f"bench times unknown query {name!r}"
    # headline set frozen since r1 for cross-round comparability
    assert len(bench.HEADLINE) == 15
    assert len(set(timed)) == len(timed)
    # r11 scaling probes: registered, disjoint from the frozen headline
    # (they ride in the stdout queries map for the driver's low-core ratio
    # measurement but must not change what `value` sums)
    assert not set(bench.SCALING_PROBES) & set(bench.HEADLINE)


#: Top-level package definitions no query, tool, bench.py or perfbench
#: reaches, kept because a test pins a live path against them (a reference
#: implementation).  Keyed (package-relative module, name).  What they
#: call is covered through them.
TEST_REFERENCES = {
    ("functions/sketch.py", "hll_portable_merge"): "test_hll_portable_merge_law_and_accuracy pins hll_portable_registers' max-merge law",
    ("functions/sketch.py", "hll_portable_estimate"): "same test pins hll_portable_registers' accuracy against exact distinct counts",
    ("operators/dedup.py", "minhash_signatures"): "test_lsh_bucket_cap_bounds_candidate_pairs_under_skew feeds lsh_candidate_pairs with it",
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


def _package_files():
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    return repo, repo / registry.__name__.split(".")[0]


def test_only_the_registry_applies_runtime_conf():
    """The registry applies the engine conf before every query build, so no
    other plans/ module imports or calls apply_runtime_conf: set-up has one
    home, and no query can skip it."""
    import ast

    _, pkg = _package_files()
    offenders = []
    for f in sorted((pkg / "plans").glob("*.py")):
        if f.name == "registry.py":
            continue
        for n in ast.walk(ast.parse(f.read_text())):
            names = (
                [a.name for a in n.names] if isinstance(n, ast.ImportFrom)
                else [n.id] if isinstance(n, ast.Name)
                else [n.attr] if isinstance(n, ast.Attribute) else []
            )
            if "apply_runtime_conf" in names:
                offenders.append(f"{f.name}:{n.lineno}")
    assert not offenders, f"plans/ modules setting up conf themselves: {offenders}"


#: Defaulted parameters no call sets that stay parameters: deployment
#: settings a host chooses, keyed (package-relative module, function,
#: parameter).
DEPLOYMENT_SETTINGS = {
    ("session.py", "get_spark", "master"): "the cluster manager URL is the deployment's choice; local[SPARK_GRAFT_CPUS] when absent",
}


def _unset_defaulted_parameters() -> tuple[list[str], list[str]]:
    """(defaulted parameters of top-level package functions outside plans/
    that no call passes, by keyword or position, minus DEPLOYMENT_SETTINGS;
    stale DEPLOYMENT_SETTINGS keys).

    Calls are matched by function name, through ``import ... as`` aliases,
    over the package, ``tools/``, ``bench.py``, ``__spark_entry__.py``,
    ``perfbench/`` and ``tests/``.  A call through a ``*``/``**`` spread,
    or a function used as a value (``f = a if x else b``, a callback),
    counts as setting every parameter: its calls cannot be matched.
    """
    import ast
    from collections import defaultdict

    repo, pkg = _package_files()
    params = {}  # (module, function, parameter) -> position, or None if keyword-only
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg)
        if rel.parts[0] == "plans":
            continue
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = [*a.posonlyargs, *a.args]
                first = len(pos) - len(a.defaults)
                for i in range(first, len(pos)):
                    params[(str(rel), node.name, pos[i].arg)] = i
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        params[(str(rel), node.name, arg.arg)] = None

    keywords, positions, spread = defaultdict(set), defaultdict(int), set()
    callers = [pkg, repo / "tools", repo / "perfbench", repo / "tests"]
    files = [p for d in callers for p in d.rglob("*.py")]
    for f in [*files, repo / "bench.py", repo / "__spark_entry__.py"]:
        tree = ast.parse(f.read_text())
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in called:
                used = n.attr if isinstance(n, ast.Attribute) else n.id
                spread.add(alias.get(used, used))
            if not isinstance(n, ast.Call):
                continue
            name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            name = alias.get(name, name)
            if any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            ):
                spread.add(name)
            positions[name] = max(positions[name], len(n.args))
            keywords[name].update(k.arg for k in n.keywords)

    unset = {
        (m, fn, p)
        for (m, fn, p), i in params.items()
        if fn not in spread
        and p not in keywords[fn]
        and (i is None or i >= positions[fn])
    }
    never = sorted("{}:{}({})".format(*k) for k in unset - DEPLOYMENT_SETTINGS.keys())
    stale = sorted("{}:{}({})".format(*k) for k in DEPLOYMENT_SETTINGS.keys() - unset)
    return never, stale


def test_every_defaulted_parameter_is_set_by_some_caller():
    """Ratchet against knobs nobody turns: a defaulted parameter of a
    package function outside plans/ that no caller passes is a constant in
    disguise — inline it (or share one module constant between twins that
    must agree).  Deployment settings are the reasoned exception; an
    exception that some caller now sets, or whose parameter is gone, fails
    too."""
    never, stale = _unset_defaulted_parameters()
    assert not never, f"defaulted parameters no caller sets (make them constants): {never}"
    assert not stale, f"stale DEPLOYMENT_SETTINGS entries: {stale}"


def _single_valued_mode_switches() -> list[str]:
    """Mode-switch parameters of top-level package functions outside plans/
    that non-test callers give fewer than two distinct values.

    A parameter is a mode switch when the body compares it with a str or
    bool literal (``==``, ``!=``, ``in``, ``is``), when it is bool-defaulted
    or bool-annotated and used as a bare ``if`` or conditional-expression
    test, or when it is passed unchanged into a mode switch of another
    function.  Its values
    come from the calls (matched by name, through ``import ... as``
    aliases) in the package including plans/, ``tools/``, ``bench.py``,
    ``__spark_entry__.py`` and non-test ``perfbench/``: a literal is its own
    value, an omitted argument is the default, a parameter passed through
    unchanged carries the values of the enclosing function's parameter,
    and any other expression counts as a distinct value.  A function used
    as a value or called through a ``*``/``**`` spread is exempt: its calls
    cannot be matched.
    """
    import ast
    from collections import defaultdict

    repo, pkg = _package_files()
    funcs = {}  # name -> (node, positional names, {name: default node or None})
    flags = set()  # (function, parameter) bool-defaulted or bool-annotated
    for f in sorted(pkg.rglob("*.py")):
        if f.relative_to(pkg).parts[0] == "plans":
            continue
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = [*a.posonlyargs, *a.args]
                defaults = dict.fromkeys(p.arg for p in [*pos, *a.kwonlyargs])
                defaults.update(zip([p.arg for p in pos[len(pos) - len(a.defaults):]], a.defaults))
                defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d)
                funcs[node.name] = (node, [p.arg for p in pos], defaults)
                for p in [*pos, *a.kwonlyargs]:
                    d = defaults[p.arg]
                    if getattr(p.annotation, "id", None) == "bool" or (
                        isinstance(d, ast.Constant) and isinstance(d.value, bool)
                    ):
                        flags.add((node.name, p.arg))

    def literal(n):
        return isinstance(n, ast.Constant) and isinstance(n.value, (str, bool))

    def call_name(call):
        return getattr(call.func, "id", None) or getattr(call.func, "attr", None)

    def bound(call, fn):  # {parameter: argument node} of one call to fn
        _, pos, _ = funcs[fn]
        out = dict(zip(pos, call.args))
        out.update((k.arg, k.value) for k in call.keywords if k.arg)
        return out

    switches = set()
    for fn, (node, _, defaults) in funcs.items():
        for n in ast.walk(node):
            if isinstance(n, ast.Compare):
                sides = [n.left, *n.comparators]
                names = {s.id for s in sides if isinstance(s, ast.Name)}
                lits = any(
                    literal(s) or isinstance(s, (ast.Tuple, ast.List, ast.Set))
                    and any(map(literal, s.elts))
                    for s in sides
                )
                if lits:
                    switches |= {(fn, p) for p in names & defaults.keys()}
            elif isinstance(n, (ast.If, ast.IfExp)) and isinstance(n.test, ast.Name):
                if (fn, n.test.id) in flags:
                    switches.add((fn, n.test.id))
    passes = defaultdict(set)  # (callee, param) -> {(caller, param)}
    for fn, (node, _, defaults) in funcs.items():
        for n in ast.walk(node):
            if isinstance(n, ast.Call) and call_name(n) in funcs:
                for p, arg in bound(n, call_name(n)).items():
                    if isinstance(arg, ast.Name) and arg.id in defaults:
                        passes[(call_name(n), p)].add((fn, arg.id))
    while True:
        grown = {src for dst in switches for src in passes[dst]} - switches
        if not grown:
            break
        switches |= grown

    callers = [
        *pkg.rglob("*.py"),
        *(repo / "tools").glob("*.py"),
        *(repo / "perfbench").glob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    values, exempt = defaultdict(set), set()
    for f in callers:
        tree = ast.parse(f.read_text())
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        scopes = [
            (n.name if isinstance(n, ast.FunctionDef) else None, n) for n in tree.body
        ]
        for enclosing, scope in scopes:
            for n in ast.walk(scope):
                if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in called:
                    used = n.attr if isinstance(n, ast.Attribute) else n.id
                    exempt.add(alias.get(used, used))
                if not isinstance(n, ast.Call):
                    continue
                fn = alias.get(call_name(n), call_name(n))
                if fn not in funcs:
                    continue
                if any(isinstance(a, ast.Starred) for a in n.args) or any(
                    k.arg is None for k in n.keywords
                ):
                    exempt.add(fn)
                args = bound(n, fn)
                for p in funcs[fn][2]:
                    if (fn, p) not in switches:
                        continue
                    arg = args.get(p, funcs[fn][2][p])
                    if arg is None:
                        continue
                    if isinstance(arg, ast.Name) and (enclosing, arg.id) in switches:
                        continue  # carries the enclosing switch's values
                    values[(fn, p)].add(
                        ast.dump(arg) if isinstance(arg, ast.Constant)
                        else f"{f.name}:{arg.lineno}:{arg.col_offset}"
                    )
    # a pass-through switch takes every value its callers give it
    for _ in range(len(switches)):
        for dst in switches:
            for src in passes[dst]:
                values[dst] |= values[src]
    return sorted(
        f"{fn}({p})" for fn, p in switches if fn not in exempt and len(values[(fn, p)]) < 2
    )


def test_every_mode_switch_is_used_in_both_modes():
    """Ratchet against modes no product caller selects: a package
    parameter that picks between implementations (a str/bool literal
    comparison, a bool flag tested bare, or a pass-through into one) must
    receive at least two distinct values from the package, tools, bench.py
    or perfbench.  A mode only tests select doubles the configurations to
    cover for no product path — delete the branch, keep the mode the
    callers use."""
    single = _single_valued_mode_switches()
    assert not single, f"mode switches with one product value (delete the other modes): {single}"


def _unused_imports() -> list[str]:
    """``module:line name`` for every name a package import binds that the
    module never uses.  Imports marked ``# noqa: F401`` (side effects,
    re-exports) are exempt, as is ``from __future__``."""
    import ast

    _, pkg = _package_files()
    out = []
    for f in sorted(pkg.rglob("*.py")):
        src = f.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in ast.walk(tree):
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            if "noqa: F401" in lines[n.lineno - 1] or getattr(n, "module", None) == "__future__":
                continue
            for a in n.names:
                name = a.asname or a.name.split(".")[0]
                if name not in used:
                    out.append(f"{f.relative_to(pkg)}:{n.lineno} {name}")
    return out


def test_package_has_no_unused_imports():
    """Ratchet against dead names the reachability walk cannot see: every
    name a package module imports is used in that module."""
    unused = _unused_imports()
    assert not unused, f"unused imports: {unused}"
