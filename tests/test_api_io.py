"""Engine facade + IO layer tests (reference flow: read runs → report →
multi-section CSV, SURVEY.md §3.3).  The facade covers only that flow plus
``sql``; the corpus-pipeline smokes below call ``operators/*`` directly."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.api import Engine
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bpe
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import curation as cu
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import dedup as dd
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import features as ft
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import similarity as sim
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import text as tx
from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.report import ReportConfig
from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import io as sio
from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star


def _write_runs(tmp_path, n=8):
    d = tmp_path / "runs"
    d.mkdir()
    for i in range(n):
        rec = {
            "uuid": f"container{i % 3}",
            "cpuType": "Intel" if i % 2 == 0 else "AMD",
            "runtime": 100.0 + i,
            "newcontainer": 1 if i < 3 else 0,
        }
        if i == 5:
            del rec["cpuType"]  # schema-union path: missing attribute
        (d / f"run{i}.json").write_text(json.dumps(rec))
    return str(d)


def test_engine_end_to_end_report(spark, tmp_path):
    eng = Engine(spark)
    runs = eng.read_runs(_write_runs(tmp_path))
    assert runs.count() == 8
    cfg = ReportConfig(
        output_groups=["cpuType", "uuid"],
        show_as_sum=["newcontainer"],
        show_as_list=["uuid"],
    )
    sections = eng.report(runs, cfg)
    assert set(sections) == {"raw", "cpuType", "uuid"}
    cpu = {r.cpuType: r for r in sections["cpuType"].collect()}
    assert cpu["Intel"].uses == 4 and cpu["AMD"].uses == 3
    assert cpu["Intel"].sum_newcontainer == 2.0  # runs 0,2 are cold starts
    assert "avg_runtime" in sections["cpuType"].columns
    # missing-attribute record lands in the null group, not dropped
    assert sections["raw"].filter(F.col("cpuType").isNull()).count() == 1


def test_write_report_csv_sections(spark, tmp_path):
    eng = Engine(spark)
    runs = eng.read_runs(_write_runs(tmp_path))
    cfg = ReportConfig(output_groups=["cpuType"])
    paths = eng.write_report(eng.report(runs, cfg), str(tmp_path / "report"))
    assert set(paths) == {"raw", "cpuType"}
    back = sio.read_csv(spark, paths["cpuType"])
    assert back.count() == 3  # Intel, AMD, null group
    assert back.columns == sorted(back.columns)  # O2 stable layout


def test_write_report_csv_compat_single_file(spark, tmp_path):
    eng = Engine(spark)
    runs = eng.read_runs(_write_runs(tmp_path))
    cfg = ReportConfig(output_groups=["cpuType"])
    path = sio.write_report_csv_compat(
        eng.report(runs, cfg), str(tmp_path / "report.csv")
    )
    text = open(path).read()
    assert text.startswith("[raw]")  # raw section first, like exampleOutput.csv
    assert "\n\n[cpuType]\n" in text  # blank-line-separated group section
    header = text.split("[cpuType]\n", 1)[1].splitlines()[0].split(",")
    assert header == sorted(header)  # O2 sorted columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_rows"):
        sio.write_report_csv_compat(eng.report(runs, cfg), str(tmp_path / "r2.csv"), max_rows=2)


def test_report_cli_sections_and_dangling_override(spark, tmp_path):
    """tools/report_cli.py: experiment JSON plus a typed ``--attr value``
    override → one CSV directory per report section.  A value-less
    ``--attr`` (trailing, or followed by another flag) is a usage error,
    never a silently dropped or swallowed override."""
    import pytest

    from tools import report_cli

    runs = _write_runs(tmp_path)
    exp = tmp_path / "exp.json"
    exp.write_text(json.dumps({"outputGroups": ["cpuType"]}))
    out = tmp_path / "cli_out"
    argv = ["-r", runs, "-e", str(exp), "-o", str(out)]
    assert report_cli.main([*argv, "--outputGroups", '["cpuType", "uuid"]']) == 0
    assert sorted(os.listdir(out)) == ["cpuType", "raw", "uuid"]
    assert sio.read_csv(spark, str(out / "cpuType")).count() == 3
    for dangling in (
        ["--removeDuplicateContainers"],
        ["--removeDuplicateContainers", "--warmupBuffer", "1"],
    ):
        bad = ["-r", runs, "-e", str(exp), "-o", str(tmp_path / "bad"), *dangling]
        with pytest.raises(SystemExit) as exc:
            report_cli.main(bad)
        assert exc.value.code != 0
    assert not (tmp_path / "bad").exists()


def test_check_cli_rejects_unknown_query_names():
    """tools/check.py names every unregistered query (and, with --window,
    every query outside the window) and exits 2 before it starts a
    session — a typo must not check nothing and pass."""
    import subprocess
    import sys

    import __spark_entry__

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = list(__spark_entry__.queries())
    first, last = names[0], names[-1]  # the last is far outside the 50-query window

    def check(*args):
        return subprocess.run(
            [sys.executable, os.path.join(root, "tools", "check.py"), "/nonexistent", *args],
            capture_output=True, text=True, timeout=300,
        )

    for args, bad in (
        ([first, "no_such_query"], "no_such_query"),
        (["--window", first, last], last),
    ):
        proc = check(*args)
        assert proc.returncode == 2
        assert bad in proc.stderr
        assert first not in proc.stderr
        assert "oracle-checked" not in proc.stdout


def test_engine_sql_over_star(spark, sf_dir):
    eng = Engine(spark)
    star.table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    out = eng.sql("SELECT count(*) AS n FROM orders").collect()
    assert out[0].n == 1500


def _read_nested_runs(spark, path):
    """Inspector-shaped run JSON with ``cpuPolls`` typed as
    ARRAY<STRUCT<time, cpuTotal>>: ``time`` first, so ``array_sort`` orders
    polls by timestamp; extra keys drop by schema projection."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.inspector import (
        CPU_POLL_METRICS,
    )

    schema = (
        "uuid STRING, runtime DOUBLE, cpuPolls ARRAY<STRUCT<time: BIGINT, cpuTotal: STRUCT<"
        + ", ".join(f"{m}: DOUBLE" for m in CPU_POLL_METRICS)
        + ">>>"
    )
    return spark.read.schema(schema).option("multiLine", "true").json(path)


def test_read_nested_runs_flatten(spark, tmp_path):
    """Nested Inspector-record ingestion (Inspector.py:144-229): cpuPolls
    ArrayType(Struct) read from real JSON, deltas = last−first poll, nested
    columns dropped after flatten."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.inspector import (
        flatten_cpu_polls,
    )

    d = tmp_path / "nested_runs"
    d.mkdir()
    poll = lambda t, usr, idle: {
        "time": t,
        "cpuTotal": {"cpuUser": usr, "cpuNice": 0.0, "cpuKernel": 1.0,
                     "cpuIdle": idle, "cpuIOWait": 0.0, "cpuIrq": 0.0,
                     "cpuSoftIrq": 0.0, "cpuSteal": 0.0, "cpuGuest": 0.0,
                     "cpuGuestNice": 0.0},
        "ctxt": 999,  # extra key → dropped by schema projection (exclude)
    }
    recs = [
        {  # polls deliberately out of order: flatten must sort by time
            "uuid": "c0", "runtime": 100.0,
            "cpuInfo": [{"model_name": "Intel Xeon", "model": "85", "cpu_MHz": "2500"}] * 2,
            "cpuPolls": [poll(2000, 60.0, 500.0), poll(1000, 10.0, 400.0), poll(3000, 75.0, 600.0)],
        },
        {
            "uuid": "c1", "runtime": 50.0, "cpuType": "AMD EPYC",
            "cpuInfo": [{"model_name": "AMD EPYC", "model": "1", "cpu_MHz": "2000"}] * 4,
            "cpuPolls": [poll(500, 5.0, 100.0)],
        },
    ]
    for i, r in enumerate(recs):
        (d / f"run{i}.json").write_text(json.dumps(r))

    flat = flatten_cpu_polls(_read_nested_runs(spark, str(d)))
    rows = {r.uuid: r for r in flat.collect()}
    assert "cpuPolls" not in flat.columns
    r0 = rows["c0"]
    assert r0.totalPolls == 3 and r0.pollSpanMs == 2000
    assert r0.cpuUser == 10.0 and r0.cpuUserDelta == 65.0   # first=t1000, last=t3000
    assert r0.cpuIdleDelta == 200.0
    r1 = rows["c1"]
    assert r1.totalPolls == 1 and r1.cpuUserDelta == 0.0


def test_reader_uri_scheme_abstraction(spark, tmp_path):
    """S3/S8 path abstraction (s3pull.py:46-94): every reader resolves paths
    through the Hadoop FileSystem API, so an explicit scheme URI
    (file://...) reads identically to a bare path — s3a://bucket/key swaps
    only the scheme.  A live s3a read needs credentials + the hadoop-aws
    jar; opt in via SG_S3_TEST_URI."""
    import os

    import pytest

    p = tmp_path / "uri_t"
    spark.range(100).write.mode("overwrite").parquet(str(p))
    bare = spark.read.parquet(str(p)).count()
    uri = spark.read.parquet(f"file://{p}").count()
    assert bare == uri == 100
    live = os.environ.get("SG_S3_TEST_URI")  # e.g. s3a://bucket/prefix
    if live:
        assert spark.read.parquet(live).count() >= 0
        return
    # real probe, not an env opt-in (r8 verdict item 8): a local S3 stand-in
    # could serve s3a:// only if the hadoop-aws filesystem is on the
    # classpath — this image ships pyspark without hadoop-aws/aws-sdk jars,
    # so the skip states the exact missing piece
    jvm = spark.sparkContext._jvm
    try:
        jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
    except Exception:
        pytest.skip(
            "hadoop-aws jar absent from this image (org.apache.hadoop.fs."
            "s3a.S3AFileSystem not on classpath) — live s3a impossible here"
        )
    # capability present but nothing to read — an environment state, not a
    # code defect; skip loudly rather than redden the suite on image updates
    pytest.skip(
        "S3AFileSystem on classpath but no SG_S3_TEST_URI configured — "
        "set it to an s3a:// prefix (or a moto endpoint) to exercise the live path"
    )


def test_binary_file_ingestion_feeds_decode(spark, tmp_path):
    """X5 ingestion: binaryFile source → rename → mapInPandas decode."""
    from pyspark.sql import functions as F

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import multimodal as mm

    (tmp_path / "img0.bin").write_bytes(b"\x00fakeimage0")
    (tmp_path / "img1.bin").write_bytes(b"\x01fakeimage-longer-1")
    (tmp_path / "skip.txt").write_text("not media")
    raw = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(str(tmp_path))
    assert raw.count() == 2
    assert {"path", "modificationTime", "length", "content"} <= set(raw.columns)
    carrier = raw.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.col("length").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("sha256"),
        ).alias("meta"),
    )
    decoded = mm.decode_media(carrier)
    rows = decoded.collect()
    assert len(rows) == 2
    assert all(r.n_bytes > 0 and r.width > 0 for r in rows)


def test_engine_corpus_facade(spark):
    """The corpus-pipeline operators compose: exact dedup, MinHash-LSH
    clusters, chunking, top-k, semantic dedup, ingest gate, split."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bloom as bl

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about engines"),
        ],
        ["doc_id", "text"],
    )
    exact = {r.keep_id for r in dd.exact_dedup(docs, "text", "doc_id").collect()}
    assert exact == {0, 2}
    pairs = dd.minhash_near_dups(
        docs, "text", "doc_id", num_hashes=16, bands=4, threshold=0.8
    )
    clusters = {
        r.doc_id: r.canonical_id
        for r in dd.cluster_canonical(docs, pairs, "doc_id").collect()
    }
    assert clusters[1] == 0 and clusters[2] == 2
    chunks = tx.chunk_documents(docs, "text", "doc_id", chunk_size=5, overlap=1)
    assert chunks.filter("doc_id = 0").count() > 1
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    top = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=1)
    assert [r.cand_id for r in top.collect()] == [1]
    sem = {r.vec_id: r.canonical_id for r in sim.semantic_dedup(
        emb, block_col=None, n_centroids=2, threshold=0.95
    ).collect()}
    assert sem[1] == 0 and sem[2] == 2  # near-parallel vectors collapse
    keyed = docs.select("doc_id", F.md5("text").alias("k"))
    gate = bl.prefiltered_anti_join(
        keyed.filter("doc_id >= 1"), keyed.filter("doc_id = 0").select("k"), "k"
    )
    assert {r.doc_id for r in gate.collect()} == {2}  # doc 1 is a dup of corpus
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    sp = {r.doc_id: r.split for r in dd.leakage_safe_split(docs, pairs, "doc_id").collect()}
    assert sp[0] == sp[1]  # the near-dup pair shares one split


def test_engine_profile_and_gate_facade(spark):
    """Profile → thresholds → constraint gate, the intended
    curation-pipeline order."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.quality_checks import (
        constraint_report,
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, None)], "id LONG, lang STRING"
    )
    prof = {r.col_name: r for r in profile_columns(df, ["id", "lang"]).collect()}
    assert prof["lang"].n_null == 1
    gate = {
        r.check_name: r.passed
        for r in constraint_report(df, unique="id", not_null=["lang"]).collect()
    }
    assert gate["unique_id"] and not gate["not_null_lang"]


def test_engine_r4_facade_surface(spark, sf_dir):
    """Smoke the X43-X52 operators: each returns a DataFrame with its
    documented columns (full semantics are tested per operator; this pins
    the public call shapes)."""
    docs = star.table(spark, sf_dir, "documents")
    ev = star.table(spark, sf_dir, "events")
    emb = star.table(spark, sf_dir, "embeddings").limit(30)

    fd = tx.winnow_clusters(docs.limit(40), "text", "doc_id")
    assert set(fd.columns) == {"doc_id", "canonical_id", "cluster_size"}
    assert fd.count() == 40

    bm = tx.bm25_topk(docs.limit(50), "text", "doc_id", [("q", ["table", "scan"])], topk=3)
    assert set(bm.columns) == {"query_id", "doc_id", "score", "rank"}

    nz = sim.normalize_embeddings_zscore(emb)
    assert set(nz.columns) == {"vec_id", "normalized"}

    act = ft.decayed_activity(ev.limit(100))
    assert "decayed_score" in act.columns and "hours_since_last" in act.columns

    rs = ft.robust_stats_by_group(ev.limit(100), "event_type", "value")
    assert {"median", "mad"} <= set(rs.columns)

    qb = cu.value_deciles(docs.limit(50), "n_chars", "doc_id", n_bins=4)
    assert set(qb.columns) == {"doc_id", "value", "bin"}
    assert qb.agg({"bin": "max"}).first()[0] <= 3

    sp = cu.per_group_sample(docs.limit(60), "lang", "doc_id", k=2)
    assert sp.groupBy("lang").count().agg({"count": "max"}).first()[0] <= 2

    pk = cu.pack_sequences_sharded(docs.limit(40), "n_chars", "doc_id", context_len=512, n_shards=2)
    assert {"shard", "pack_id", "offset_in_pack"} <= set(pk.columns)

    merges = bpe.bpe_train(docs.limit(20), "text", n_merges=5)
    tk = bpe.bpe_encode_pandas(docs.limit(20), "text", "doc_id", merges)
    assert {"tokens", "n_tokens"} <= set(tk.columns)


def test_engine_facade_r5_methods_smoke(spark, sf_dir):
    """Every r5 operator runs end-to-end on the smoke fixtures and returns
    a non-degenerate frame — the 'a reference user can drive the whole r5
    family' contract."""
    docs = star.table(spark, sf_dir, "documents")
    emb = star.table(spark, sf_dir, "embeddings")
    ev = star.table(spark, sf_dir, "events")

    assert tx.strip_html(docs, "text", "doc_id").columns[:2] == ["doc_id", "clean_text"]
    assert cu.importance_weights(docs, "text", "doc_id", F.col("lang") == "en").count() == docs.count()
    sp = cu.stratified_split(docs, "doc_id", "lang")
    assert set(r.split for r in sp.select("split").distinct().collect()) <= {"train", "val", "test"}
    assert cu.temporal_split_embargo(ev, "ts", "event_id").count() == ev.count()
    assert cu.quantile_normalize(docs, "n_chars", "lang", "doc_id").count() == docs.count()
    assert tx.token_stats_by_group(docs, "text", "source").count() > 0
    assert set(tx.vocabulary_overlap(docs, "text", "source").columns) >= {"group_a", "group_b", "jaccard"}
    assert dd.cluster_size_histogram(docs, "text", "doc_id").count() >= 1
    assert dd.dup_rate_by_group(docs, "text", "doc_id", "source").count() > 0
    assert sim.embedding_qc(emb, "embedding", "vec_id", expected_dim=64).filter("ok").count() > 0
    assert cu.weighted_per_group_sample(docs, "lang", "doc_id", "n_chars", k=3).count() > 0
    assert {"z_score", "significant"} <= set(ft.ab_test_zscores(ev, F.col("user_id") % 2 == 1).columns)
    assert {"cusum", "is_shift"} <= set(ft.cusum_changepoints(ev).columns)
    assert {"z_score", "is_burst"} <= set(ft.burst_detection(ev).columns)
    assert ft.survival_curve(ev).count() >= 0
    assert ft.transition_matrix(ev).count() > 0
    assert ft.bootstrap_ci(ev, "value", "event_type", "event_id").count() > 0
    cal = cu.quantile_map(
        ev.filter("event_id % 2 = 1"), ev.filter("event_id % 2 = 0"), "value", "event_id"
    )
    assert {"quantile", "mapped_value"} <= set(cal.columns)


def test_flatten_cpu_polls_empty_arrays_yield_nulls(spark, tmp_path):
    """A run record with ZERO polls must flatten to NULL metrics —
    element_at on an empty array is a runtime error under ANSI mode (the
    Spark 4 default), not NULL, so the flatten guards on size."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.inspector import (
        flatten_cpu_polls,
    )

    d = tmp_path / "nested_runs_empty"
    d.mkdir()
    (d / "r.json").write_text(json.dumps(
        {"uuid": "e0", "runtime": 1.0, "cpuInfo": [], "cpuPolls": []}
    ))
    r = flatten_cpu_polls(_read_nested_runs(spark, str(d))).first()
    assert r.uuid == "e0" and r.totalPolls == 0
    assert r.cpuUser is None and r.cpuUserDelta is None and r.pollSpanMs is None
