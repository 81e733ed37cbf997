"""One engine session of a benchmark run (started by ``run.py``).

``--mode coldstart`` launches the session and exits: it measures set-up.
``--mode measure`` then runs the workload: two warm-up passes (the first
also checks every query's output), the opening noise sentinel, the timed
passes of a closed-loop client, the closing sentinel and, with
``--trace 1``, the trace read-out.
The record goes to ``--out`` as JSON; Spark's console output goes to the
log file the parent provides.  The process exits without stopping Spark:
the parent kills its process group.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: every run makes at least this many timed passes
MIN_PASSES = 3
#: a traced run alternates traced and untraced passes over this many
TRACED_MIN_PASSES = 4


def dir_bytes(path: str, skip: str | None = None) -> int:
    """Bytes of the files under ``path``, leaving out the ``skip`` subtree."""
    total = 0
    for base, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if os.path.join(base, d) != skip]
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def run_query(spark, fn, inputs: str) -> None:
    fn(spark, inputs).write.format("noop").mode("overwrite").save()


def run_traced(spark, tracer, fn, inputs: str, **attrs) -> None:
    import spans

    with tracer.span("query", **attrs) as root:
        with tracer.span("plans.build", root):
            df = fn(spark, inputs)
        with tracer.span("catalyst", root):
            root["attrs"]["catalyst_ms"] = spans.catalyst_phases(df)
        with tracer.span("exec", root):
            df.write.format("noop").mode("overwrite").save()


def measure(spark, args, fns: dict, oracles: dict) -> dict:
    import checks
    import procstat
    import spans
    from tools.sentinel import prime_sentinel, run_sentinel, summarize
    from workloads import WORKLOADS

    names = list(WORKLOADS[args.workload])
    rec: dict = {"errors": [], "timeline_s": {}}

    def mark(event: str) -> None:
        rec["timeline_s"][event] = time.monotonic() - args.spawned_at

    executions = []

    def execute(name: str, phase: str, fn, *fn_args, **fn_kwargs) -> None:
        q0 = time.monotonic()
        try:
            fn(*fn_args, **fn_kwargs)
            ok = True
        except Exception:
            ok = False
            rec["errors"].append(
                {"query": name, "phase": phase, "trace": traceback.format_exc(limit=3)}
            )
        executions.append({"query": name, "phase": phase, "s": time.monotonic() - q0, "ok": ok})

    # warm-up: every query once with its output collected for the check,
    # then once more as the timed passes run it
    actual: dict[str, tuple | None] = dict.fromkeys(names)

    def collect(name: str) -> None:
        actual[name] = checks.fingerprint(name, fns[name](spark, args.inputs).toPandas())

    t = time.monotonic()
    for name in names:
        execute(name, "check", collect, name)
    for name in names:
        execute(name, "warm", run_query, spark, fns[name], args.inputs)
    rec["warmup_s"] = time.monotonic() - t
    mark("warm-up")

    # the start point is taken right before the timed passes, after the
    # warm-up, so that its drift against the end point shows outside load
    # rather than the JIT's progress
    prime_sentinel(spark)
    points = {"start": run_sentinel(spark)}
    mark("sentinel start")

    tracer = spans.Tracer() if args.trace else None
    listener = spans.ProgressListener() if args.trace else None
    if listener is not None:
        spark.streams.addListener(listener)
    rng = random.Random(args.seed)
    pid = os.getpid()
    scratch = os.environ["SG_SCRATCH_DIR"]
    # Spark's own shuffle and block files live under <scratch>/local (the
    # engine's spark.local.dir) and come and go; what a pass leaves behind
    # is everything else: staging, checkpoints and sink output
    spark_local = os.path.join(scratch, "local")
    passes = []
    with procstat.PeakMemory(pid) as mem:
        begin = time.monotonic()
        # another pass only while it is expected to end within --seconds
        min_passes = TRACED_MIN_PASSES if args.trace else MIN_PASSES
        while len(passes) < min_passes or (
            time.monotonic() - begin + passes[-1]["wall_s"] <= args.seconds
        ):
            i = len(passes)
            order = rng.sample(names, len(names))
            # traced, untraced, untraced, traced: both kinds sit at the same
            # mean position on the warm-up curve
            traced = tracer is not None and i % 4 in (0, 3)
            first_root = len(tracer.spans) if tracer else 0
            scratch0 = dir_bytes(scratch, spark_local)
            cpu0 = procstat.tree_cpu_s(pid)
            t0 = time.monotonic()
            for name in order:
                if traced:
                    execute(name, "timed", run_traced, spark, tracer, fns[name], args.inputs, query=name)
                else:
                    execute(name, "timed", run_query, spark, fns[name], args.inputs)
            wall = time.monotonic() - t0
            passes.append(
                {
                    "wall_s": wall,
                    "cpu_s": procstat.tree_cpu_s(pid) - cpu0,
                    "traced": traced,
                    "scratch_bytes_left": dir_bytes(scratch, spark_local) - scratch0,
                    "first_span": first_root,
                }
            )
        rec["peak_rss_bytes"] = mem.peak
    mark("timed passes")
    points["end"] = run_sentinel(spark)
    rec["noise"] = summarize(points)
    mark("sentinel end")
    rec["passes"], rec["executions"] = passes, executions

    want = checks.expected(args.inputs, names, oracles)
    rec["check"] = {
        "failed": checks.failures(actual, want),
        "actual": {n: list(fp) if fp else None for n, fp in actual.items()},
        "expected": {n: list(fp) for n, fp in want.items()},
    }
    mark("check")

    if tracer is not None:
        exec_windows = [(s["start"], s["end"]) for s in tracer.spans if s["name"] == "exec"]
        spans.attach(
            tracer,
            spans.read_jobs(spark),
            listener.batches,
            spans.read_sql_metrics(spark, exec_windows),
        )
        layers = []
        for i, p in enumerate(passes):
            if not p["traced"]:
                continue
            end = passes[i + 1]["first_span"] if i + 1 < len(passes) else len(tracer.spans)
            roots = [s for s in tracer.spans[p["first_span"]:end] if s["parent"] is None]
            m = spans.fold(tracer, roots)
            m["sources.scratch_bytes_left"] = p["scratch_bytes_left"]
            layers.append(m)
        rec["layers"] = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        rec["self_times"] = [
            {"query": s["attrs"]["query"], **spans.self_times(tracer, s)}
            for s in tracer.spans
            if s["parent"] is None
        ]
        rec["spans"] = tracer.spans
        mark("trace read-out")
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("coldstart", "measure"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)

    t0 = time.monotonic()
    from cloudcomputing_servicecompositiontest_datapipeline_spark.session import (
        apply_runtime_conf,
        get_spark,
    )

    t1 = time.monotonic()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.monotonic()
    import __spark_entry__ as entry

    fns, oracles = entry.queries(), entry.oracle_sql()
    t3 = time.monotonic()
    apply_runtime_conf(spark)
    t4 = time.monotonic()
    rec = {
        "setup_s": t4 - args.spawned_at,
        "session": {
            "interpreter_s": t0 - args.spawned_at,
            "import_s": t1 - t0,
            "launch_s": t2 - t1,
            "registry_s": t3 - t2,
            "conf_s": t4 - t3,
        },
    }
    try:
        if args.mode == "measure":
            rec.update(measure(spark, args, fns, oracles))
    finally:
        with open(args.out, "w") as f:
            json.dump(rec, f)
    # The parent kills this process group (the JVM and its Python workers)
    # once the record is written: a graceful Spark shutdown only adds time.
    os._exit(0)


if __name__ == "__main__":
    main()
