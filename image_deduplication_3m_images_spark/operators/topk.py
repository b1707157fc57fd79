"""Skew-safe exact top-K per group (the production form of per-domain caps).

``Window.partitionBy(group)`` puts EVERY row of a group into one task's
sort buffer — a single pathological domain (link farm, mirror spam: tens of
billions of pages under one registered domain at 10^12-doc scale) turns the
per-domain cap into one straggler task that sorts, spills, and eventually
OOMs.  The classic fix is a two-level tournament, exact whenever the
ordering is a TOTAL order (ours always is — every ordering ends with the
unique id as tiebreak):

1. salt: split each group into S (``N_SALTS``) shards; a local
   ``row_number`` keeps each shard's top K (max sort-buffer = group_size / S),
2. final: a ``row_number`` over the <= K*S survivors per group keeps the
   true top K — any row outside a shard's local top K is dominated by K
   rows in its own shard, so it can never be in the group's global top K.

Cost: two batch-sized shuffles bounded by (group, salt) and (group) over
<= K*S rows/group, instead of one shuffle with an unbounded per-group sort.

Reference analog: the reference's per-group "keep best N" selection after
clustering (/root/reference/modules/deduplication.py best-image pick),
generalized to a skew-proof plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

# shards per group in the first tournament level
N_SALTS = 32


def _hashable(dt: DataType) -> bool:
    """xxhash64 rejects MapType anywhere in a column's type (unordered keys
    have no canonical hash since Spark 3.0) — recurse so a map nested in a
    struct/array is excluded too."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """EXACT top-``k`` rows per group under ``order_cols`` (must be a total
    order — include a unique tiebreak column), with bounded per-task sort
    buffers.  Adds ``rank_col`` (1..k within the group).

    ``N_SALTS`` bounds the local sort: each first-level partition holds
    ~group_size / N_SALTS rows; the second level sorts <= k * N_SALTS rows
    per group.  With 32 salts and k=5 the final window touches at most 160
    rows per group no matter how large the group is.
    """
    # deterministic shard: hash the row's hashable columns, not rand() —
    # re-runs and resumed stages must shard identically.  pmod keeps the
    # shard id in [0, N_SALTS) (abs(Long.MIN_VALUE) stays negative); map
    # columns are excluded (xxhash64 rejects them), and a frame with NO
    # hashable column falls back to a rand shard — exactness never depends
    # on WHICH shard a row lands in, only re-run shard identity does.
    hash_cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
    salt = (
        F.pmod(F.xxhash64(*hash_cols), F.lit(N_SALTS))
        if hash_cols
        else F.floor(F.rand(seed=0) * N_SALTS).cast("long")
    ).alias("_salt")
    w_local = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    survivors = (
        df.select("*", salt)
        .withColumn("_lrank", F.row_number().over(w_local))
        .where(F.col("_lrank") <= k)
        .drop("_lrank", "_salt")
    )
    w_final = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return survivors.withColumn(rank_col, F.row_number().over(w_final)).where(
        F.col(rank_col) <= k
    )
