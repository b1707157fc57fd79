"""Broadcast Bloom-filter pre-filtered incremental dedup.

The cross-snapshot "have we seen this content before?" pass every rolling
web corpus runs (Dolma's bloom dedup, CCNet's hash pre-filter): a compact
bit-array summary of the SEEN corpus is built once, persisted alongside the
snapshot, and every later ingest probes it map-side so that rows which are
*definitely new* never enter a shuffle — only the (tiny) might-be-seen
remainder pays the exact anti-join.  This is Spark's own runtime row-level
bloom join (``spark.sql.optimizer.runtime.bloomFilter.enabled``) made
explicit and persistable, and with the residual exact join kept, so the
result is EXACT: bloom false positives cost shuffle bytes, never rows.

Scale shape at 100 TB:
- build: one scan of seen (plus a sizing count IF ``n_items`` is not
  supplied — see ``build_bloom``); per-partition bitmaps are
  OR-reduced by a depth-2 tree whose every level streams one bitmap at a
  time (``_or_reduce``), so peak residency on any reducer AND the driver
  is one bitmap + accumulator.
- probe: one vectorized Arrow batch pass over new (numpy bit tests), zero
  shuffle for the definitely-new stream.
- residual anti-join: |new| * fpp + |true dups| rows — broadcastable when
  the batch is small, plain shuffle anti-join otherwise.

Reference analog: the in-memory "already processed" hash registries the
reference consults before re-hashing a blob
(``/root/reference/modules/deduplication.py:689-704`` processed-set checks),
generalized to a persistable constant-space summary.

No false negatives by construction: build and probe derive the SAME k bit
positions via double hashing (h1 + i*h2, h2 forced odd, m a power of two)
from the SAME pair of JVM-side xxhash64 values, so any key inserted at
build time always probes all-ones.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# second-hash salt: any constant distinct from xxhash64's default seed path
_H2_SALT = 0x9E3779B9


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate; m is rounded UP to a
    power of two so probe positions are a mask, not a modulo."""
    n_items = max(1, n_items)
    m_ideal = -n_items * math.log(fpp) / (math.log(2) ** 2)
    m_bits = 1 << max(10, math.ceil(math.log2(m_ideal)))
    k = max(1, round(m_bits / n_items * math.log(2)))
    return m_bits, min(k, 16)


def _hash_exprs(key_col: str):
    """THE two 64-bit hash expressions (JVM-side codegen xxhash64; h2
    decorrelated by a salt).  Build and probe must derive bit positions
    from the SAME pair — sharing this single definition is what makes the
    no-false-negatives invariant unbreakable by a one-sided edit."""
    return (
        F.xxhash64(F.col(key_col)),
        F.xxhash64(F.col(key_col), F.lit(_H2_SALT)),
    )


def _hash_cols(df: DataFrame, key_col: str) -> DataFrame:
    h1, h2 = _hash_exprs(key_col)
    return df.select(h1.alias("h1"), h2.alias("h2"))


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(k, n) array of bit positions via double hashing.  int64 hashes are
    reinterpreted as uint64 so negative JVM longs index correctly; h2 is
    forced odd so the k probes never collapse onto one slot when m is a
    power of two."""
    u1 = h1.astype(np.int64).view(np.uint64)
    u2 = h2.astype(np.int64).view(np.uint64) | np.uint64(1)
    mask = np.uint64(m_bits - 1)
    steps = np.arange(k, dtype=np.uint64)[:, None]
    return ((u1[None, :] + steps * u2[None, :]) & mask).astype(np.int64)


def build_bloom(
    seen: DataFrame,
    key_col: str,
    n_items: int | None = None,
    fpp: float = 0.01,
) -> tuple[bytes, int, int]:
    """Bloom build over ``seen[key_col]``.  Returns ``(bitmap_bytes,
    m_bits, k)`` — a plain-bytes artifact a catalog can persist next to the
    snapshot it summarizes.

    ONE scan when ``n_items`` is passed (an estimate is fine: catalog
    row-count stats, file sizes / avg row width; fpp degrades gracefully
    if it is low).  Without it, sizing needs the count first, so the
    default pays a counting scan AND the build scan — acceptable for
    one-off builds, but at 100 TB callers should supply ``n_items``.

    The scan emits ONE bitmap row per partition (``mapInPandas`` sees the
    whole partition's Arrow batches), and partials are OR-reduced with a
    depth-2 tree so a 100k-partition corpus ships 100k bitmaps to ~√100k
    reducers, not to the driver.
    """
    if n_items is None:
        n_items = seen.count()
    m_bits, k = bloom_params(n_items, fpp)
    n_bytes = m_bits // 8

    def _partition_bitmap(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        saw = False
        for pdf in batches:
            if not len(pdf):
                continue
            saw = True
            pos = _positions(
                pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m_bits, k
            ).ravel()
            np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        if saw:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    partials = _hash_cols(seen, key_col).mapInPandas(
        _partition_bitmap, schema="bitmap binary"
    )
    merged = _or_reduce(partials, n_bytes)
    return merged, m_bits, k


def _or_reduce(partials: DataFrame, n_bytes: int) -> bytes:
    """Tree-OR of per-partition bitmaps: one shuffle to √P reducers, then
    the driver ORs the reduced set.  STREAMING at every level — the reducer
    folds its partition's rows one at a time (RDD mapPartitions iterator;
    an applyInPandas/Arrow form would materialize the whole ~√P-bitmap
    group at once), and the driver pulls the reduced rows one partition at
    a time via toLocalIterator — so peak residency everywhere is ONE bitmap
    plus the accumulator, never √P bitmaps.  (Per-partition imperative
    fold over opaque byte blobs is the one shape where the RDD API is the
    right tool — there is no columnar structure for Catalyst to use.)

    Small-case shortcut (round 6): when even ALL partials fit comfortably
    on the driver (≤ 64 MB — e.g. a KB-sized bloom over a few dozen scan
    partitions), the reduce tree + per-partition toLocalIterator job chain
    is pure overhead; one collect job ORs them directly.  The streaming
    tree remains the path for corpus-scale partition counts."""
    n_parts = partials.rdd.getNumPartitions()
    if n_parts * n_bytes <= 64 * 1024 * 1024:
        acc = np.zeros(n_bytes, dtype=np.uint8)
        for r in partials.collect():
            acc |= np.frombuffer(r["bitmap"], dtype=np.uint8)
        return acc.tobytes()
    fan_in = max(1, int(math.sqrt(max(1, n_parts))))

    def _or_iter(rows):
        acc = None
        for r in rows:
            b = np.frombuffer(r, dtype=np.uint8)
            if acc is None:
                acc = b.copy()
            else:
                acc |= b
        if acc is not None:
            yield acc.tobytes()

    reduced = (
        partials.rdd.map(lambda row: row["bitmap"])
        .repartition(fan_in)
        .mapPartitions(_or_iter)
    )
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for b in reduced.toLocalIterator():
        acc |= np.frombuffer(b, dtype=np.uint8)
    return acc.tobytes()


def might_contain_col(spark, bloom: bytes, m_bits: int, k: int):
    """Vectorized membership probe as a pandas UDF over the two hash
    columns.  The bitmap ships to executors ONCE via a TorrentBroadcast (not
    re-pickled per task), and each Arrow batch is tested with pure numpy."""
    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        pos = _positions(h1.to_numpy(), h2.to_numpy(), m_bits, k)
        hit = (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        return pd.Series(hit.all(axis=0))

    return _probe


def incremental_new(
    new: DataFrame,
    seen: DataFrame,
    key_col: str,
    bloom: tuple[bytes, int, int] | None = None,
    fpp: float = 0.01,
    n_seen: int | None = None,
) -> DataFrame:
    """EXACT ``new ∖ seen`` on ``key_col``, with the bloom as a map-side
    router: rows whose key definitely never appeared in seen are emitted
    without touching a shuffle; only might-contain rows (true dups + fpp
    false positives) enter the exact anti-join.  Passing a prebuilt
    ``bloom`` (the persisted artifact) makes this a zero-extra-scan path;
    otherwise pass ``n_seen`` (estimate ok) to avoid the sizing count scan
    (see :func:`build_bloom`).
    """
    spark = new.sparkSession
    if bloom is None:
        bloom = build_bloom(seen, key_col, n_items=n_seen, fpp=fpp)
    bitmap, m_bits, k = bloom
    probe = might_contain_col(spark, bitmap, m_bits, k)
    h1, h2 = _hash_exprs(key_col)  # the build's exact expressions
    flagged = new.withColumn("_maybe_seen", probe(h1, h2))
    fresh = flagged.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    # anti-join is dup-insensitive on its right side — no pre-distinct shuffle
    residual = (
        flagged.where(F.col("_maybe_seen"))
        .drop("_maybe_seen")
        .join(seen.select(key_col), key_col, "left_anti")
    )
    return fresh.unionByName(residual)
