"""The benchmark's own tests, at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The end-to-end tests start the engine (four runs of about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module", params=[(w, t) for w in sorted(WORKLOADS) for t in (0, 1)])
def result(request):
    workload, trace = request.param
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001",
    ]  # fmt: skip
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    records = os.path.join(ROOT, ".perfbench", "records")
    with open(os.path.join(records, f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        record = json.load(f)
    spans_file = os.path.join(records, f"{workload}-seed{SEED}-spans.json")
    span_list = None
    if trace:
        with open(spans_file) as f:
            span_list = json.load(f)
    return {
        "workload": workload,
        "trace": trace,
        "line": json.loads(out.stdout.strip().splitlines()[-1]),
        "record": record,
        "spans": span_list,
    }


def test_result_line_names_every_metric_with_its_unit(result):
    spec = bench_spec()
    line = result["line"]
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    wanted = spec["per_layer"] if result["trace"] else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in line["metrics"].items()
    }
    for v in line["metrics"].values():
        assert isinstance(v["value"], float)


def test_spans_nest_root_build_catalyst_exec(result):
    if not result["trace"]:
        pytest.skip("spans exist in traced runs only")
    by_id = {s["id"]: s for s in result["spans"]}
    roots = [s for s in result["spans"] if s["parent"] is None]
    assert roots and all(s["name"] == "query" for s in roots)
    for root in roots:
        kids = [s for s in result["spans"] if s["parent"] == root["id"]]
        assert [k["name"] for k in kids] == ["plans.build", "catalyst", "exec"]
        for k in kids:
            assert root["start"] <= k["start"] <= k["end"] <= root["end"]
            assert not [s for s in result["spans"] if s["parent"] == k["id"]]
    assert all(s["parent"] is None or s["parent"] in by_id for s in result["spans"])


def test_no_self_time_is_negative(result):
    if not result["trace"]:
        pytest.skip("self times exist in traced runs only")
    rows = result["record"]["self_times"]
    assert rows
    for row in rows:
        for layer, value in row.items():
            if layer != "query":
                assert value >= 0, (row["query"], layer, value)


def test_record_attests_noise_and_cpus(result):
    record = result["record"]
    assert record["spark_graft_cpus"] == str(len(os.sched_getaffinity(0)))
    assert {"drift_ratio", "steal_pct", "noisy"} <= set(record["noise"])
    assert record["failed_frac"] == 0.0


def test_wrong_fingerprint_raises_failed_frac():
    names = ["q1_pricing_summary", "streaming_available_now"]
    right = {n: (3, ["a"], f"hash-{n}") for n in names}
    wrong = dict(right, q1_pricing_summary=(3, ["a"], "deliberately-wrong"))
    rec = {
        "executions": [{"query": n, "ok": True} for n in names * 4],
        "check": {"failed": checks.failures(right, right)},
    }
    assert run.count_failures(rec) == (8, 0)
    rec["check"]["failed"] = checks.failures(right, wrong)
    assert rec["check"]["failed"] == ["q1_pricing_summary"]
    assert run.count_failures(rec) == (8, 4)


def test_stream_check_ignores_unchecked_columns_and_row_order():
    import pandas as pd

    a = pd.DataFrame({"event_type": ["x", "y"], "uses": [3, 4], "sum_value": [1.5, 2.0], "extra": [0, 1]})
    b = a.assign(extra=[1, 0]).iloc[::-1]
    assert checks.fingerprint("streaming_available_now", a) == checks.fingerprint(
        "streaming_available_now", b
    )
    assert checks.fingerprint("streaming_available_now", a) != checks.fingerprint(
        "streaming_available_now", a.assign(uses=[3, 5])
    )


def test_inputs_are_seeded_permutations(tmp_path):
    base = inputs.base_tables("sf0.001")
    same = inputs.permuted(base, 3)
    assert inputs.permuted(base, 3)["lineitem"].equals(same["lineitem"])
    assert inputs.permuted(base, 0)["lineitem"].equals(base["lineitem"])
    other = inputs.permuted(base, 4)["lineitem"]
    assert not other.equals(same["lineitem"])
    assert other.sort_by([("l_orderkey", "ascending"), ("l_extendedprice", "ascending")]).equals(
        same["lineitem"].sort_by([("l_orderkey", "ascending"), ("l_extendedprice", "ascending")])
    )
    assert set(base) == set(checks.TABLES)
    path = inputs.ensure_inputs(str(tmp_path), "sf0.001", 3)
    assert sorted(os.listdir(path)) == sorted(f"{t}.parquet" for t in checks.TABLES)
    assert inputs.ensure_inputs(str(tmp_path), "sf0.001", 0) == os.path.join(inputs.FIXTURES, "sf0.001")


def test_covered_merges_overlaps_and_clips():
    assert spans._covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert spans._covered([], 0, 1) == 0


def test_hd_quantile_is_a_smooth_order_statistic():
    xs = [float(x) for x in range(1, 10)]
    assert run.hd_quantile(xs, 50) == pytest.approx(5.0, abs=1e-6)
    assert run.hd_quantile([2.5] * 7, 90) == pytest.approx(2.5)
    assert run.hd_quantile([3.0], 50) == pytest.approx(3.0)
    qs = [run.hd_quantile(xs, p) for p in (10, 50, 69, 90)]
    assert qs == sorted(qs) and 1 < qs[0] and qs[-1] < 9


def test_tail_percentile_keeps_ten_executions_beyond():
    assert run.tail_percentile(33) == 69.0
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(20) is None
    assert run.tail_percentile(9) is None


def test_short_run_tail_is_the_slowest_query_median():
    executions = [
        {"query": q, "phase": "timed", "s": s, "ok": True}
        for q, s in [("a", 1.0), ("b", 3.0), ("a", 1.2), ("b", 5.0), ("a", 0.9), ("b", 4.0)]
    ]
    rec = {
        "executions": executions,
        "passes": [{"wall_s": 4.0, "cpu_s": 8.0}] * 3,
        "peak_rss_bytes": 2**30,
    }
    metrics, extra = run.end_to_end(rec, [1.0, 2.0, 3.0])
    assert metrics["query_s_tail"] == pytest.approx(4.0)
    assert extra["query_s_tail_is"] == "median of the slowest query, b"
    assert metrics["setup_s"] == 2.0 and metrics["peak_rss_mb"] == 1024.0
