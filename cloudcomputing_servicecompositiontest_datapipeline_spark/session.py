"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the conf set below is chosen so the *same*
logical plans scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime re-plan: coalesce small shuffle partitions, skew-join split,
  dynamic broadcast conversion).
- Arrow on (fast toPandas / pandas_udf batches).
- UTC session timezone — deterministic timestamp collection regardless of host tz
  (required for hash-matching a DuckDB oracle on naive timestamps).
- shuffle.partitions sized for local tests; on a real cluster AQE coalescing makes
  a high initial value safe, so we leave it overridable via env.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

#: serializes the one-time package-zip build (see ensure_package_on_workers)
_PYFILE_LOCK = threading.Lock()

#: Compiled generated-code classes a session we create keeps (see get_spark).
CODEGEN_CACHE_ENTRIES = "4096"

#: Conf applied to sessions we create AND (where safe) to sessions handed to us.
ENGINE_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce to the ADVISORY size instead of stopping at the
    # session's parallelism default (parallelismFirst=true, the Spark
    # default, exists for back-compat; the Spark tuning docs themselves
    # recommend false "and respect the advisory partition size").  Reduce
    # stages then size to the DATA: a kilobyte aggregate collapses to one
    # task instead of shuffle.partitions near-empty ones, while a 100 TB
    # shuffle still gets bytes/64MB partitions.  cluster_canonical set this
    # per-loop since r9 with the same reasoning; now it is the engine
    # posture.  Scale-adaptive by construction — not a local-core tuning.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4 wraps EVERY Column/DataFrame op in a call-site capture for
    # enriched error context: one conf read + origin set + clear = ~3 py4j
    # round-trips per op, plus a Python stack walk.  Plan-heavy queries pay
    # seconds of pure driver tax per build (r10 profile: 3/4 of
    # similarity_ann_sweep's py4j traffic was this wrapper).  Disable it —
    # errors then carry the JVM context only, values are untouched.  The
    # flag is read once and cached process-wide, so it must be set before
    # the first Column op (get_spark: builder conf; apply_runtime_conf:
    # the registry calls it before building a query's expressions).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Exact decimal aggregation needed for oracle hash-matching.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # The bypass-merge shuffle writer opens one file PER REDUCE PARTITION
    # per map task; with 32 shuffle partitions every exchange here used it,
    # paying 32 file open/commits per task — measured 2.3 s of
    # shuffleWriteTime on a 1.5 MB exchange (99% overhead), 0.01 s with the
    # sort-based writer (one data + one index file).  Scale-neutral: above
    # 8 reduce partitions the sort writer wins on file count; at cluster
    # scale (hundreds/thousands of partitions) the default threshold (200)
    # never fired anyway, so this only removes the small-shuffle tax.
    # Static core conf — applies when our builder launches the JVM; the
    # try/except in apply_runtime_conf skips it on driver-handed sessions.
    "spark.shuffle.sort.bypassMergeThreshold": "8",
    # Broadcast threshold: dims (region/nation/customer/supplier/part at test SF)
    # should broadcast; at 100 TB the *fact* tables never fit, dims still do.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert in the source layer (star.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def scratch_root() -> str:
    """Scratch directory for shuffle files and streaming checkpoints.

    Spark's scratch space (``spark.local.dir``, default ``/tmp``) is meant to
    live on fast local disks; this sandbox's ``/tmp`` is a virtio ext4 volume
    whose per-file open/commit latency dominates KB-scale shuffle writes
    (measured: 7 s of shuffleWriteTime for a 1.5 MB exchange, 4.3 s for
    28 KB — >99% overhead).  Prefer the RAM-backed ``/dev/shm`` when present
    and writable; a cluster deployment overrides with ``SG_SCRATCH_DIR`` (or
    Spark's own ``SPARK_LOCAL_DIRS``) pointing at its NVMe scratch array —
    the knob is an infrastructure choice, not a local-core tuning: shuffle
    payloads at 100 TB need real disks, and every production Spark install
    sets ``spark.local.dir`` explicitly for exactly this reason."""
    env = os.environ.get("SG_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        p = os.path.join(shm, "spark_graft_scratch")
        os.makedirs(p, exist_ok=True)
        return p
    import tempfile

    return tempfile.gettempdir()


def get_spark(app_name: str = "spark-graft", master: str | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's tuned conf."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in ENGINE_RUNTIME_CONF.items():
        builder = builder.config(k, v)
    # Half the host's physical memory, at most 24g: a fixed 24g heap can
    # outgrow a smaller host, whose OOM killer then takes the whole JVM.
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(half_mb, 24 * 1024)}m"),
    )
    builder = builder.config("spark.sql.files.maxPartitionBytes", "128MB")
    # Static conf — only effective when this builder launches the JVM (the
    # bench and tools do); an externally created session keeps its own dirs.
    builder = builder.config(
        "spark.local.dir", os.path.join(scratch_root(), "local")
    )
    # Janino's compiled classes sit in one JVM-wide LRU keyed by generated
    # source text, 100 entries by default.  One sweep of the registry
    # compiles 2,376 distinct classes and one perfbench report_etl pass
    # about 145, so at the default every warm report_etl pass recompiled
    # 133 of them.  4096 holds a whole sweep.  Over two censuses at
    # sf0.001, a second sweep compiled 47-76 classes in 8-11 queries
    # (3,115 at the default), and Metaspace after one sweep read 216-218
    # MiB against 199-219 MiB at the default, which compiled 3,159.
    # A builder conf and not in ENGINE_RUNTIME_CONF: it is a static conf,
    # which apply_runtime_conf cannot set on a live session, so a session
    # handed to us by a driver keeps its own value.
    builder = builder.config(
        "spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES
    )
    return builder.getOrCreate()


def package_zip() -> str:
    """Path of this package's zip in the system temp dir, built if absent.

    Named by content (a hash over every module's path and bytes) and built
    with fixed member timestamps, so the same sources always give the same
    file: every process of one package version shares one zip instead of
    leaving one per pid behind, and a rebuild never changes bytes a running
    executor has already fetched (Spark hard-fails on "exists and does not
    match").  Written to a per-process temp name and renamed into place, so
    a concurrent reader sees a whole file or none."""
    import hashlib
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    members = [
        (str(pathlib.Path(pkg_dir.name) / p.relative_to(pkg_dir)), p.read_bytes())
        for p in sorted(pkg_dir.rglob("*.py"))
    ]
    digest = hashlib.sha256()
    for arcname, data in members:
        digest.update(arcname.encode() + b"\0" + data + b"\0")
    zpath = os.path.join(
        tempfile.gettempdir(), f"spark_graft_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for arcname, data in members:
                info = zipfile.ZipInfo(arcname, (1980, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16  # rw-r--r-- when unpacked
                z.writestr(info, data)
        os.replace(tmp, zpath)
    return zpath


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Operators that run Python kernels on workers (``mapInPandas`` decode,
    ``pandas_udf``s, ``applyInPandasWithState``) reference module-level
    functions, which cloudpickle serializes BY REFERENCE — the worker must
    be able to import the package.  When the engine is driven from an
    external session whose working directory is not the repo root (the
    grading driver, a notebook, spark-submit without --py-files), workers
    would otherwise die with ModuleNotFoundError.  One zip per package
    version (:func:`package_zip`), attached lazily once per context."""
    sc = spark.sparkContext
    if getattr(sc, "_spark_graft_pyfile", False):
        return
    # Serialized: concurrent callers (queries built from a thread pool —
    # guide §2.6) attach the zip once per context.
    with _PYFILE_LOCK:
        if getattr(sc, "_spark_graft_pyfile", False):
            return
        try:
            sc.addPyFile(package_zip())
        except Exception:
            pass  # already added under this name in this context
        sc._spark_graft_pyfile = True


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Best-effort apply of runtime-settable conf to an externally created session
    (the driver hands us its own SparkSession in ``__spark_entry__``).

    The registry calls this before building every registered query
    (``plans/registry.query``), so no query sets conf up itself.
    Memoized with a canary, since the 11 ``conf.set`` py4j round-trips
    (~40 ms) would otherwise be paid per plan build.  After the first full
    apply we only re-read the timeZone canary (one round-trip); if
    something reset the session (a new hostile session under the same
    object is impossible, but a test or tool may unset engine conf
    wholesale) the canary misses and the full apply runs again.  The one
    operator that changes engine conf mid-session
    (``bounded_state_partitions``) restores it under try/finally, so the
    memo never masks its change."""
    if getattr(spark, "_sg_conf_applied", False):
        try:
            if spark.conf.get("spark.sql.session.timeZone", None) == "UTC":
                ensure_package_on_workers(spark)
                return spark
        except Exception:
            pass
    for k, v in ENGINE_RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep the session's value
    try:
        spark._sg_conf_applied = True
    except AttributeError:
        pass
    ensure_package_on_workers(spark)
    return spark
