"""Seeded inputs for the benchmark.

``fixtures/<scale>/`` holds a copy of the engine's test fixtures at that
scale: the star schema plus the ``events``, ``documents`` and
``embeddings`` tables, with the duplicates, near duplicates and other edge
cases FIXTURES.md describes.  The ``--seed`` of a run permutes the row
order of every table; seed 0 uses the fixtures unchanged.  Every seed
therefore measures the same rows, and a query whose output depends on input
row order shows up as a failed output check on some seed.

Each seed's tables are written once under the cache directory and reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SCALES = sorted(os.listdir(FIXTURES))


def base_tables(scale: str) -> dict[str, pa.Table]:
    """The scale's fixture tables, by name, in their stored row order."""
    d = os.path.join(FIXTURES, scale)
    return {
        f.removesuffix(".parquet"): pq.read_table(os.path.join(d, f))
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    }


def permuted(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Row order of every table permuted by ``seed`` (0 keeps the order)."""
    if seed == 0:
        return dict(tables)
    rng = np.random.default_rng(seed)
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in sorted(tables.items())}


def ensure_inputs(cache_dir: str, scale: str, seed: int) -> str:
    """Directory holding ``<table>.parquet`` for (scale, seed): the fixtures
    themselves for seed 0, else a permuted copy written on first use and
    then reused.  A partly written directory is never reused: tables are
    written to a temporary sibling that is renamed at the end."""
    if seed == 0:
        return os.path.join(FIXTURES, scale)
    out = os.path.join(cache_dir, f"{scale}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in permuted(base_tables(scale), seed).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.replace(tmp, out)
    except OSError:  # another run wrote the same inputs first
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp)
    return out
