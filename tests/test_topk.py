"""Skew-safe exact top-K per group (`operators/topk.py`): must equal the
plain single-window answer on any input (including one pathological giant
group), and the plan must shard the first level by the salt so no task ever
sorts a whole group."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.operators.topk import top_k_per_group


def _ref_topk(df, k):
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "g", "rank")
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, g string, v long")


def test_matches_plain_window_with_giant_group(spark):
    """One group holds 95% of the rows (the link-farm shape the operator
    exists for); several tiny groups sit beside it; values collide heavily
    so the id tiebreak is load-bearing."""
    rows = [(i, "spam", (i * 37) % 50) for i in range(5000)]
    rows += [(10_000 + i, f"g{i % 7}", i % 11) for i in range(250)]
    df = _mk(spark, rows)
    got = sorted(
        top_k_per_group(
            df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=5
        )
        .select("id", "g", "rank")
        .collect()
    )
    want = sorted(_ref_topk(df, 5).collect())
    assert got == want


def test_k_larger_than_some_groups(spark):
    df = _mk(spark, [(1, "a", 9), (2, "a", 8), (3, "b", 1)])
    got = sorted(
        top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=5)
        .select("id", "g", "rank")
        .collect()
    )
    assert got == sorted(_ref_topk(df, 5).collect())
    assert len(got) == 3


def test_first_level_partitions_by_salt(spark):
    """The whole point: the first shuffle must key on (group, salt), never
    on the group alone, so a group's rows land in N_SALTS tasks."""
    df = _mk(spark, [(i, "g", i) for i in range(100)])
    out = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    parts = [
        seg[: seg.index(")") + 1]
        for seg in plan.split("hashpartitioning(")[1:]
    ]
    assert len(parts) >= 2, plan  # two levels = two exchanges
    assert any("_salt" in p for p in parts), plan  # one keyed on (group, salt)
