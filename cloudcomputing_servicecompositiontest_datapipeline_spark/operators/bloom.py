"""Bloom-filter pre-filtered anti-join (X24 — incremental-ingest gate at
100 TB).

The cross-corpus ingest gate (`dedup.dedup_against_corpus`, reference
semantics SURVEY.md §2.12) ends in an anti-join of the incoming batch
against the corpus key set.  At 100 TB the corpus side is billions of keys:
a plain anti-join shuffles the ENTIRE incoming batch on the key even though
the overwhelming majority of incoming rows match nothing.  The standard fix
— the same trick Spark's own runtime row-level filtering applies inside
joins — is a Bloom filter over the corpus keys:

1. **Build (distributed)**: each corpus key sets ``num_hashes`` bits of an
   ``num_bits``-wide filter.  Expressed as pure DataFrame ops: explode the
   k ``(word, mask)`` pairs per key and ``bit_or`` them per 64-bit word —
   a narrow partial-agg shuffle whose reduce side is at most
   ``num_bits/64`` rows REGARDLESS of corpus row count.
2. **Collect (bounded)**: the dense word array is ``num_bits/8`` bytes
   (16 KiB at the default 2^17 bits) — bounded by the *parameter*, not the
   data, the same justification as the IVF training sample
   (`similarity.py`).  ~10 bits/key keeps FPR under ~1%.  The array is
   baked into the probe's plan as one literal, which suits filters up to
   ~1M bits; a 1-billion-key corpus (~1.25 GB) would need the array
   broadcast instead.  The pandas-UDF broadcast probe that did that was
   removed because no query used it.
3. **Probe (map-local, ZERO shuffle)**: rows whose k bits are not all set
   are *definitely* absent from the corpus and pass through without
   touching a join.  Only the "maybe present" sliver — true duplicates
   plus the FPR·n false positives — enters the exact anti-join, so the
   shuffle is sized by the duplicate rate, not the batch size.

The final result is EXACTLY the plain anti-join (Bloom filters have no
false negatives), which is what makes this oracle-checkable: the DuckDB
twin is a plain ``NOT EXISTS``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.fastlit import lit_longs
from ..sources.star import stage_barrier

#: Default filter width: 2^17 bits = 16 KiB → <0.1% FPR for ~5k keys (k=5).
DEFAULT_NUM_BITS = 1 << 17
DEFAULT_NUM_HASHES = 5


def _positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """The k bit positions for a key: xxhash64 salted with the slot index
    (same k-independent-hashes-by-salting scheme as MinHash signatures)."""
    return F.array(
        *[F.pmod(F.xxhash64(F.lit(k), key), F.lit(num_bits)) for k in range(num_hashes)]
    )


def bloom_build(
    df: DataFrame,
    key: Column,
    *,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> list[int]:
    """Build the filter as a distributed ``bit_or`` aggregate and return the
    dense 64-bit word array (length ``ceil(num_bits/64)``).

    The only driver-side materialization is the aggregated word table —
    ≤ ``num_bits/64`` rows by construction, independent of ``df``'s size."""
    n_words = (num_bits + 63) // 64
    rows = (
        df.select(F.explode(_positions(key, num_bits, num_hashes)).alias("p"))
        .select(
            F.floor(F.col("p") / 64).cast("int").alias("w"),
            (F.col("p") % 64).cast("int").alias("s"),
        )
        .select(F.col("w"), F.expr("shiftleft(cast(1 as bigint), s)").alias("m"))
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def might_contain(
    words: list[int],
    key: Column,
    *,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> Column:
    """JVM-side membership test: all k bits set in the literal word array.

    The filter is baked into the plan as a literal array (fine to ~1M bits;
    beyond that plan size grows).  Stays inside whole-stage codegen: no
    Python, no join, no shuffle.

    The word array ships as ONE json literal (functions/fastlit):
    ``F.lit(list)`` costs one py4j round-trip per word — measured ~2 s of
    pure driver time at the default 2048 words — while from_json(lit(json))
    constant-folds to the identical array literal."""
    lit_words = lit_longs(words)
    return F.forall(
        _positions(key, num_bits, num_hashes),
        lambda p: F.bit_get(
            F.element_at(lit_words, F.floor(p / 64).cast("int") + 1),
            (p % 64).cast("int"),
        )
        == 1,
    )


def prefiltered_anti_join(
    incoming: DataFrame,
    corpus_keys: DataFrame,
    key: str,
    *,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Exact ``incoming LEFT ANTI JOIN corpus`` with a Bloom fast path.

    Definite-absent rows (the bulk of a typical ingest batch) pass through a
    map-only filter — no shuffle, no join; only Bloom-positive rows take the
    real anti-join.  Result rows equal the plain anti-join exactly.

    ``incoming`` is scanned twice (once per branch) — the standard tradeoff;
    at scale, persist the keyed projection or write it once between stages
    if the source scan is the dominant cost.

    The filter is baked into the plan (:func:`might_contain`)."""
    words = bloom_build(
        corpus_keys, F.col(key), num_bits=num_bits, num_hashes=num_hashes
    )
    # stage_barrier: the probe filter references the key once per hash
    # position; if the caller derived the key (sha2 of normalized text),
    # predicate pushdown inlines that chain num_hashes times per row
    # (plan_audit LambdaCaptureHash).  The fence pins it to one evaluation.
    incoming = stage_barrier(incoming, key)
    flag = might_contain(words, F.col(key), num_bits=num_bits, num_hashes=num_hashes)
    fresh = incoming.filter(~flag)
    maybe = incoming.filter(flag)
    # corpus side fenced too: constraint propagation copies the probe
    # predicate across the join equality onto the corpus branch — useless
    # (every corpus key passes its own filter) and, unfenced, it re-derives
    # the caller's key chain per corpus row
    survivors = maybe.join(
        stage_barrier(corpus_keys.select(key).distinct(), key), key, "left_anti"
    )
    return fresh.unionByName(survivors)
