"""Hardening regressions from round-2 ADVICE: hamming radius=0 degenerate
case, Hadoop-FS scratch cleanup, and session-keyed query memoization.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.operators.dedup import hamming_block_pairs
from image_deduplication_3m_images_spark.session import hadoop_delete


def test_hamming_radius_zero_is_exact_pairs(spark):
    """radius=0 must degrade to exact-hash pairs (was: (1<<64)-1 overflowed
    LongType in F.lit and raised NumberFormatException)."""
    rows = [(1, 7), (2, 7), (3, 7), (4, -12345), (5, -12345), (6, 99)]
    df = spark.createDataFrame(rows, "id long, h long")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_block_pairs(df, "h", "id", radius=0).collect()
    )
    assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0), (4, 5, 0)]


def test_hamming_negative_radius_rejected():
    import pytest

    with pytest.raises(ValueError):
        hamming_block_pairs(None, "h", "id", radius=-1)


def test_hadoop_delete_local_file_uri(spark, tmp_path):
    """CC-checkpoint cleanup goes through the Hadoop FS API so it works on
    hdfs/s3 warehouses; covered here against a local file: URI."""
    scratch = tmp_path / "_cc_checkpoints"
    (scratch / "sub").mkdir(parents=True)
    (scratch / "sub" / "part-0").write_text("x")
    uri = f"file://{scratch}"
    assert hadoop_delete(spark, uri) is True
    assert not scratch.exists()
    # deleting a missing path is a no-op, not an error
    assert hadoop_delete(spark, uri) is False


def test_query_memo_keyed_by_session(spark):
    """Cached DataFrames die with their SparkSession; the memo must drop
    entries from a previous application instead of handing out dead handles."""
    from image_deduplication_3m_images_spark.plans import queries as Q

    class FakeCtx:
        applicationId = "app-OLD"

    class FakeSpark:
        sparkContext = FakeCtx()

    Q._MEMO.clear()
    Q._MEMO_APP[:] = []
    assert Q._memo(FakeSpark(), ("k",), lambda: 1) == 1
    assert ("k",) in Q._MEMO
    # same app: memo hit (builder not called)
    assert Q._memo(FakeSpark(), ("k",), lambda: 2) == 1
    # new app (restarted session): memo cleared, rebuilt
    FakeCtx.applicationId = "app-NEW"
    assert Q._memo(FakeSpark(), ("k",), lambda: 3) == 3
    Q._MEMO.clear()
    Q._MEMO_APP[:] = []


def test_hamming_hot_bucket_tier_is_exact(spark):
    """Buckets over bucket_cap take the exact self-join tier (Hamming
    semantics must not drop pairs); small buckets take the collect_list
    tier.  Both against a brute-force oracle, with a degenerate all-equal
    hash cluster forcing the hot tier."""
    rows = (
        [(i, 0) for i in range(10)]          # hot: 10 identical hashes
        + [(100, 3)]                          # hamming 2 from the zeros
        + [(200, 1 << 40), (201, 1 << 40)]    # small bucket pair
        + [(300, -1)]                         # far from everything
    )
    df = spark.createDataFrame(rows, "id long, h long")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_block_pairs(df, "h", "id", radius=3, bucket_cap=4).collect()
    )
    expected = sorted(
        (a, b, bin((ha ^ hb) & (2**64 - 1)).count("1"))
        for i, (a, ha) in enumerate(rows)
        for (b, hb) in rows[i + 1:]
        if bin((ha ^ hb) & (2**64 - 1)).count("1") <= 3
    )
    assert got == expected


def test_hamming_fast_path_equals_tiered(spark):
    """The stats-driven fast path (max_bucket_hint <= bucket_cap) must emit
    exactly the tiered plan's pairs, with a join-free single-grouping plan
    (round-6 optimization: one shuffle instead of stats-join + tier union)."""
    import io
    from contextlib import redirect_stdout

    from image_deduplication_3m_images_spark.operators.dedup import (
        hamming_bucket_stats,
    )

    rows = [(i, (i % 5) << 7) for i in range(40)] + [(100, 3), (101, 1)]
    df = spark.createDataFrame(rows, "id long, h long")
    hint = hamming_bucket_stats(df, "h", radius=3).collect()[0]["max_bucket"]
    assert hint is not None and hint <= 256
    fast = hamming_block_pairs(df, "h", "id", radius=3, max_bucket_hint=hint)
    tiered = hamming_block_pairs(df, "h", "id", radius=3)
    key = lambda r: (r["id_a"], r["id_b"], r["hamming"])  # noqa: E731
    assert sorted(map(key, fast.collect())) == sorted(map(key, tiered.collect()))
    buf = io.StringIO()
    with redirect_stdout(buf):
        fast.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan, plan[:2000]


def test_signlsh_neardup_cache_buckets_single_kernel_pass(spark):
    """cache_buckets=True must return the identical pair set while reading
    the bucketed projection from cache on both self-join sides (one bucket
    kernel pass instead of two)."""
    import io
    from contextlib import redirect_stdout

    import numpy as np

    from image_deduplication_3m_images_spark.operators.similarity import (
        EMB_DIM,
        signlsh_neardup_pairs,
    )

    rng = np.random.RandomState(11)
    base = rng.standard_normal(EMB_DIM)
    rows = []
    for i in range(24):
        v = base + rng.standard_normal(EMB_DIM) * (0.05 if i % 3 == 0 else 2.0)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kwargs = dict(threshold=0.3, n_planes=3, n_tables=4)
    plain = signlsh_neardup_pairs(emb, **kwargs)
    cached = signlsh_neardup_pairs(emb, cache_buckets=True, **kwargs)
    key = lambda r: (r["id_a"], r["id_b"], round(r["cosine"], 9))  # noqa: E731
    assert sorted(map(key, cached.collect())) == sorted(map(key, plain.collect()))
    buf = io.StringIO()
    with redirect_stdout(buf):
        cached.explain("formatted")
    assert "InMemoryTableScan" in buf.getvalue()


def test_load_spread_thresholds(spark, tmp_path, monkeypatch):
    """load()'s adaptive scan spreading: kernel tables spread at ~256
    rows/task; relational tables stay untouched below the multi-million-row
    threshold and spread above it (round 6 — the single-row-group input
    skew fix must not be tuned to one scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from image_deduplication_3m_images_spark.plans import queries as Q

    pq.write_table(
        pa.table({"doc_id": list(range(4000)), "text": ["x"] * 4000}),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)
    # kernel-table classification ("documents"): spreads
    assert Q.load(spark, sf, "documents").rdd.getNumPartitions() > 1
    # relational classification: below the threshold, untouched
    assert Q.load(spark, sf, "documents", spread=False).rdd.getNumPartitions() == 1
    # relational above the threshold: spreads
    monkeypatch.setattr(Q, "_RELATIONAL_SPREAD_ROWS", 1000)
    Q._MEMO.pop(("scan_parts", sf, "documents", False), None)
    assert Q.load(spark, sf, "documents", spread=False).rdd.getNumPartitions() > 1


def test_broadcast_fits_guards_object_and_cluster_cost(spark, monkeypatch):
    """One byte guard for every broadcast choice: under 256 MiB per object
    AND under 1 GiB summed over the executors that each fetch a copy."""
    import image_deduplication_3m_images_spark.session as session

    mib = 1024 * 1024
    monkeypatch.setattr(session, "executor_count", lambda _spark: 1)
    assert session.broadcast_fits(spark, 0)
    assert session.broadcast_fits(spark, 256 * mib - 1)
    assert not session.broadcast_fits(spark, 256 * mib)
    monkeypatch.setattr(session, "executor_count", lambda _spark: 8)
    assert session.broadcast_fits(spark, 128 * mib - 1)
    assert not session.broadcast_fits(spark, 128 * mib)


def test_driver_heap_fits_physical_memory(spark):
    """A local driver's heap ceiling must fit the box: a heap above physical
    RAM turns memory pressure into an OOM kill of the whole JVM instead of
    a spill or a GC pause."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    heap_mb = spark.sparkContext._jvm.org.apache.spark.util.Utils.memoryStringToMb(
        conf
    )
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    assert heap_mb <= phys_mb, (conf, phys_mb)


def test_default_cores_follows_env_then_affinity(monkeypatch):
    """With no ``SPARK_GRAFT_CPUS`` a session is sized to the CPUs this
    process may run on (what ``nproc`` prints), not to a fixed constant."""
    from image_deduplication_3m_images_spark.session import default_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
