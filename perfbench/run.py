#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client on one ``local[nproc]``
session, running a named workload's query mix pass after pass.

    python3 perfbench/run.py --workload report_etl --seed 1 --seconds 10 --trace 0

A run writes (or reuses) the seed's permuted copy of the fixtures
(``inputs.py``), starts the engine
``COLD_STARTS`` times from a fresh process to time set-up, and keeps the
last session for the measurement: two warm-up passes, the first of which
checks every query's output against DuckDB, the opening noise sentinel,
timed passes for ``--seconds`` (at least ``worker.MIN_PASSES``) and the
closing sentinel.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes and prints the per-layer metrics, including the
tracing overhead.  The last line of stdout is the result as JSON; the full
record (noise attestation, check results, samples, spans) is written under
``.perfbench/records/`` in the checkout.  Everything the run writes stays
inside the checkout, except the scratch root on ``/dev/shm`` (see
``scratch_dir``), which is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import numpy as np  # noqa: E402
import procstat  # noqa: E402
from worker import dir_bytes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = "sf0.01"
COLD_STARTS = 2
#: the driver JVM's heap, fixed: see session_env
HEAP = "3g"
#: a run must end within this many seconds, spawns included
DEADLINE_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_s_p50": "s",
    "query_s_tail": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.launch_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.gap_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.cpu_share": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",
    "exec.failed_tasks": "count",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "rows",
    "sources.output_bytes": "bytes",
    "sources.output_rows": "rows",
    "sources.scratch_bytes_left": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "trace.overhead_s": "s",
}


class BenchError(RuntimeError):
    pass


def tail_percentile(n_executions: int) -> float | None:
    """Highest whole percentile with at least 10 of ``n_executions`` beyond
    it, or None when that percentile would not lie above the median."""
    pct = int(100 * (1 - 10 / n_executions))
    return float(pct) if pct > 50 else None


def hd_quantile(values: list[float], pct: float) -> float:
    """Harrell-Davis estimate of the ``pct`` percentile: the mean of all
    order statistics, weighted by a Beta((n+1)p, (n+1)(1-p)) density.  The
    latencies of a run come from a few queries of very different cost; a
    single order statistic jumps between those clusters from run to run,
    a weighted mean of them all does not."""
    xs = np.sort(values)
    n = len(xs)
    p = pct / 100
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # the Beta CDF at 0, 1/n, ..., 1, by the midpoint rule on a fine grid
    edges = np.linspace(0.0, 1.0, 4001)
    mids = (edges[:-1] + edges[1:]) / 2
    log_pdf = (a - 1) * np.log(mids) + (b - 1) * np.log1p(-mids)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, edges, cdf))
    return float(np.dot(weights, xs))


def group_pids(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for entry in os.listdir("/proc"):
        fields = procstat.stat_fields(int(entry)) if entry.isdigit() else None
        if fields and fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(entry))
    return out


def reap_group(pgid: int, wait_s: float = 30.0) -> None:
    """Kill every process left in a worker's process group (its JVM and the
    JVM's Python workers) and wait until none remains."""
    end = time.monotonic() + wait_s
    while group_pids(pgid):
        if time.monotonic() > end:
            raise BenchError(f"processes of group {pgid} did not exit")
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def scratch_dir(run_dir: str) -> str:
    """A fresh scratch root for the run's sessions, on ``/dev/shm`` where the
    engine keeps its scratch by default (``session.scratch_root``), else in
    the run directory.  The run deletes it when it ends."""
    shm = "/dev/shm"
    parent = shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else run_dir
    return tempfile.mkdtemp(prefix="perfbench-", dir=parent)


def session_env(run_dir: str, scratch: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # The heap has one size, HEAP, set through the engine's own driver-memory
    # setting, near the size the workloads grow the heap to under the
    # engine's default (24g at most, from 1/64 of RAM).  A heap free to grow
    # followed GC timing: curation's peak resident memory spread 32% over
    # five seeds from the default start, and again 32% over ten from a 3g
    # start, as contention slowed the collector and it grew the heap to 5g.
    # No JVM writes its perf-data file, which would go to the system temp dir.
    no_perf_data = "-XX:-UsePerfData"
    java_opts = f"-Xms{HEAP} {no_perf_data} -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:  # keep every job, stage and SQL execution until the read-out
        conf.update(
            {
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            }
        )
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SG_SCRATCH_DIR": scratch,
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": no_perf_data,
            "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        }
    )
    return env


def spawn(mode: str, args, input_dir: str, run_dir: str, env: dict, deadline: float, n: int) -> dict:
    out = os.path.join(run_dir, f"{mode}{n}.json")
    log = os.path.join(run_dir, f"{mode}{n}.log")
    spawned_at = time.monotonic()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--mode", mode, "--workload", args.workload, "--inputs", input_dir,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--spawned-at", repr(spawned_at), "--out", out,
    ]  # fmt: skip
    with open(log, "wb") as logf:
        proc = subprocess.Popen(
            cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
            start_new_session=True,
        )  # fmt: skip
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            reap_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{mode} session failed (exit {rc}):\n{tail}")
    with open(out) as f:
        rec = json.load(f)
    if mode == "measure" and "passes" not in rec:
        raise BenchError("measure session ended without passes")
    return rec


def end_to_end(rec: dict, setups: list[float]) -> tuple[dict, dict]:
    timed = [e for e in rec["executions"] if e["phase"] == "timed"]
    lat = [e["s"] for e in timed]
    pct = tail_percentile(len(lat))
    if pct is not None:
        tail, tail_of = hd_quantile(lat, pct), f"p{pct:g} of all executions"
    else:
        # a run too short for a tail beyond the median (a mix of a few slow
        # queries) reports the median latency of its slowest query
        by_query: dict[str, list[float]] = {}
        for e in timed:
            by_query.setdefault(e["query"], []).append(e["s"])
        tail, slowest = max((statistics.median(v), q) for q, v in by_query.items())
        tail_of = f"median of the slowest query, {slowest}"
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(p["wall_s"] for p in rec["passes"]),
        "query_s_p50": hd_quantile(lat, 50),
        "query_s_tail": tail,
        "cpu_s": statistics.median(p["cpu_s"] for p in rec["passes"]),
        "peak_rss_mb": rec["peak_rss_bytes"] / 2**20,
    }
    extra = {"query_s_tail_is": tail_of, "n_executions": len(lat), "n_passes": len(rec["passes"])}
    return metrics, extra


def per_layer(rec: dict) -> dict:
    walls = {
        traced: [p["wall_s"] for p in rec["passes"] if p["traced"] == traced]
        for traced in (True, False)
    }
    metrics = dict(rec["layers"])
    metrics["session.launch_s"] = rec["session"]["launch_s"]
    metrics["session.warm_s"] = rec["warmup_s"]
    metrics["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    return metrics


def count_failures(rec: dict) -> tuple[int, int]:
    """(attempted, failed) executions, warm-ups included.  An execution
    fails when it raised, or when its query's output failed the check."""
    bad = set(rec["check"]["failed"])
    failed = sum(1 for e in rec["executions"] if not e["ok"] or e["query"] in bad)
    return len(rec["executions"]), failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=SCALE, choices=sorted(inputs.SCALES))
    args = ap.parse_args(argv)

    # a run stopped from outside still reaps its sessions (spawn's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine checkout around {HERE}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(ROOT, ".perfbench")
    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    input_dir = inputs.ensure_inputs(os.path.join(work, "data"), args.scale, args.seed)
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    scratch = scratch_dir(run_dir)
    try:
        env = session_env(run_dir, scratch, bool(args.trace))
        setups = []
        if not args.trace:
            for n in range(COLD_STARTS - 1):
                setups.append(spawn("coldstart", args, input_dir, run_dir, env, deadline, n)["setup_s"])
        rec = spawn("measure", args, input_dir, run_dir, env, deadline, 0)
        setups.append(rec["setup_s"])
        scratch_left = dir_bytes(scratch)
    except BenchError as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = count_failures(rec)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "setup_samples_s": setups,
        "session": rec["session"],
        "noise": rec["noise"],
        "check_failed": rec["check"]["failed"],
        "errors": rec["errors"],
        "failed_frac": failed / attempted,
        "scratch_mb": scratch_left / 2**20,
        "timeline_s": rec["timeline_s"],
        "passes": rec["passes"],
        "executions": rec["executions"],
    }
    if args.trace:
        metrics = per_layer(rec)
        units = PER_LAYER
        record["self_times"] = rec["self_times"]
        with open(os.path.join(records, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(rec["spans"], f)
    else:
        metrics, extra = end_to_end(rec, setups)
        units = END_TO_END
        record.update(extra)
    record["metrics"] = metrics
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(
        f"{args.workload} seed={args.seed} noisy={rec['noise']['noisy']} "
        f"drift={rec['noise']['drift_ratio']} steal={rec['noise']['steal_pct']} "
        f"failed_frac={record['failed_frac']:.4f} scratch_mb={record['scratch_mb']:.2f} "
        f"check_failed={record['check_failed']}"
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
