"""Config and session tests: defaults, typed overrides and per-index
overrides (faas_runner.py / experiment_orchestrator.py semantics), the
package zip, the session memos and the scratch root."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.config import (
    apply_overrides,
    coerce_override,
    load_config,
    to_report_config,
)
from cloudcomputing_servicecompositiontest_datapipeline_spark.sources.star import ensure_parallelism


def test_load_config_fills_defaults(tmp_path):
    p = tmp_path / "exp.json"
    p.write_text(json.dumps({"outputGroups": ["cpuType"], "runs": 50}))
    cfg = load_config(str(p))
    assert cfg["runs"] == 50
    assert cfg["threads"] == 10 and cfg["randomSeed"] == 42  # defaults
    assert cfg["outputGroups"] == ["cpuType"]


def test_override_coercion_int_json_string():
    assert coerce_override("42") == 42
    assert coerce_override('{"a": 1}') == {"a": 1}
    assert coerce_override('["x","y"]') == ["x", "y"]
    assert coerce_override("hello") == "hello"


def test_apply_overrides_global_and_indexed():
    cfgs = [{"runs": 1}, {"runs": 2}]
    out = apply_overrides(cfgs, {"runs": "9", "threads[1]": "4"})
    assert out[0]["runs"] == 9 and out[1]["runs"] == 9
    assert "threads" not in out[0] and out[1]["threads"] == 4
    assert cfgs[0]["runs"] == 1  # originals untouched


def test_to_report_config_projection():
    cfg = load_config({"outputGroups": ["uuid"], "showAsSum": ["runtime"],
                       "invalidators": {"uuid": "bad"}, "warmupBuffer": 2})
    rc = to_report_config(cfg)
    assert rc.output_groups == ["uuid"]
    assert rc.show_as_sum == ["runtime"]
    assert rc.invalidators == {"uuid": "bad"}
    assert rc.warmup_buffer == 2


def test_package_zip_ships_to_workers(spark):
    """apply_runtime_conf must attach the package zip so executor Python
    workers can unpickle module-level kernel functions when the driving
    process's cwd is not the repo root (grading-driver scenario)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.session import (
        apply_runtime_conf,
    )

    apply_runtime_conf(spark)
    sc = spark.sparkContext
    assert getattr(sc, "_spark_graft_pyfile", False)
    assert any("spark_graft_pkg" in p for p in sc._python_includes)


def test_package_zip_is_one_file_per_version(tmp_path, monkeypatch):
    """The package zip is named by content and built byte-identically:
    repeated builds, in this process or a later one, leave exactly one file
    and no temp file behind."""
    import tempfile
    import zipfile

    from cloudcomputing_servicecompositiontest_datapipeline_spark.session import (
        package_zip,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = package_zip()
    data = open(first, "rb").read()
    assert package_zip() == first
    os.remove(first)  # a later process rebuilds the same bytes
    assert package_zip() == first
    assert open(first, "rb").read() == data
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    names = zipfile.ZipFile(first).namelist()
    assert "cloudcomputing_servicecompositiontest_datapipeline_spark/session.py" in names


# ------------------------------------ session memos and scratch placement


def test_ensure_parallelism_memoizes_per_input(spark, sf_dir, monkeypatch):
    """Repeated calls on the same input object must return the SAME child
    (one planning probe, canonically-equal exchange subtrees for reuse),
    and the memo must not leak across distinct inputs.  A fresh narrow
    frame over the memoized scan reads the scan's partition count: no
    ``df.rdd`` probe, and the same repartition decision as the probe."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    df = star.table(spark, sf_dir, "embeddings")
    out1 = ensure_parallelism(df)
    out2 = ensure_parallelism(df)
    assert out1 is out2
    probes = []
    rdd = type(df).rdd  # a functools.cached_property
    monkeypatch.setattr(
        type(df), "rdd", property(lambda self: probes.append(self) or rdd.func(self))
    )
    other = df.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    out3 = ensure_parallelism(other)
    assert out3 is not out1
    assert probes == []
    # a frame over something other than a memoized scan still probes
    local = spark.range(3)
    ensure_parallelism(local)
    assert probes == [local]
    monkeypatch.undo()
    target = spark.sparkContext.defaultParallelism
    assert (out3 is not other) == (other.rdd.getNumPartitions() < target)
    # values unchanged by the round-robin spread
    assert out1.count() == df.count()


def test_table_memoizes_per_session_and_dir(spark, sf_dir, sf_check_dir):
    """star.table memoizes the resolved scan per (session, dir, name): the
    same object comes back (one relation resolution per session instead of
    one per plan build), distinct dirs/tables stay distinct, and the scan
    still reads the parquet data on every execution (values correct)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.sources import star

    a1 = star.table(spark, sf_dir, "region")
    a2 = star.table(spark, sf_dir, "region")
    assert a1 is a2
    b = star.table(spark, sf_check_dir, "region")
    assert b is not a1
    c = star.table(spark, sf_dir, "nation")
    assert c is not a1
    assert a1.count() == 5  # fixture regions — a real execution, not a cache


def test_apply_runtime_conf_memo_reapplies_on_canary_miss(spark):
    """apply_runtime_conf skips the 11 conf round-trips once applied, but a
    session whose timeZone canary was reset gets the full engine conf
    re-applied (the hostile-session contract of tools/check.py PLAIN mode)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.session import (
        apply_runtime_conf,
    )

    apply_runtime_conf(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # simulate a hostile reset of a VALUE-affecting conf
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        apply_runtime_conf(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_registry_applies_conf_for_query_without_own_setup(spark, sf_dir):
    """The registry applies the engine conf before building any query, so a
    query whose body never calls apply_runtime_conf (the streaming dedup
    drain) still runs in UTC on a session that had another zone and no
    memo."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.plans import registry
    from cloudcomputing_servicecompositiontest_datapipeline_spark.session import (
        apply_runtime_conf,
    )

    registry.load_all()
    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/New_York")
    spark._sg_conf_applied = False
    try:
        registry.QUERIES["streaming_dedup_on_arrival"](spark, sf_dir)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, "UTC")
        apply_runtime_conf(spark)


def test_scratch_root_honors_env(tmp_path, monkeypatch):
    """scratch_root prefers SG_SCRATCH_DIR (the cluster-deployment knob)
    over the RAM-backed local default."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark import session as sess

    target = tmp_path / "scratch"
    monkeypatch.setenv("SG_SCRATCH_DIR", str(target))
    assert sess.scratch_root() == str(target)
    assert target.is_dir()
    monkeypatch.delenv("SG_SCRATCH_DIR")
    root = sess.scratch_root()
    assert root and root != str(target)
