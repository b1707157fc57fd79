"""Per-cluster best-representative selection + group statistics.

Reference analog: stage 5 quality argmax
(``/root/reference/modules/deduplication.py:1353-1458``, ``_select_best_image``
``574-591``) and the group-stats logging (``1172-1202``).  Spark-first: one
window function — a single shuffle by cluster_id — replaces the reference's
106-line dict-juggling loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pick_best(
    members: DataFrame, assignments: DataFrame, node_col: str, id_col: str
) -> DataFrame:
    """Members (node_col, id_col, quality) + connected-component assignments
    (id, cluster_id) over ``node_col`` ids -> (id_col, cluster_id, quality,
    cluster_size, is_best).

    Singleton attach, cluster id, size and best pick in ONE pass: a LEFT
    join (a node absent from ``assignments`` is its own cluster, the
    ``attach_singletons`` rule), then one window partitioned by the
    node-space cluster computes ``cluster_id`` = min ``id_col`` of the
    cluster (deterministic, and invariant to how node ids were assigned),
    ``cluster_size`` and the quality-argmax ``is_best`` together — a single
    exchange + sort for all three.

    Exactly one ``is_best`` per cluster; ties broken by ascending id —
    deterministic (FIXTURES.md §4 best-pick determinism; reference tie-break
    was dict-iteration order, a nondeterminism we fix).  ``desc`` ordering
    puts NULL quality last, so a quality-less member never wins ``is_best``
    unless the whole cluster lacks quality (then min-id wins).
    """
    joined = members.join(
        assignments.withColumnRenamed("id", node_col), node_col, "left"
    ).select(
        id_col, "quality", F.coalesce("cluster_id", F.col(node_col)).alias("_c")
    )
    w_sz = Window.partitionBy("_c")
    w_rank = Window.partitionBy("_c").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    return joined.select(
        id_col,
        F.min(id_col).over(w_sz).alias("cluster_id"),
        "quality",
        F.count(F.lit(1)).over(w_sz).alias("cluster_size"),
        (F.row_number().over(w_rank) == 1).alias("is_best"),
    )


def group_stats(assignments: DataFrame) -> DataFrame:
    """Cluster-size distribution summary (G6): one row of counts/min/max/avg."""
    sizes = assignments.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").cast("long").alias("n_docs"),
        F.sum((F.col("size") > 1).cast("long")).alias("n_dup_clusters"),
        F.sum(F.when(F.col("size") > 1, F.col("size") - 1).otherwise(0)).cast("long").alias("n_redundant_docs"),
        F.max("size").alias("max_cluster_size"),
    )


def group_avg_similarity(
    assignments: DataFrame, scored_pairs: DataFrame
) -> DataFrame:
    """G5: per-cluster average pairwise ``similarity`` over scored pairs
    (id_a, id_b, similarity) whose BOTH endpoints are in the cluster
    (doc_id, cluster_id) (reference analog: the avg_similarity
    group-stat loop, ``/root/reference/modules/deduplication.py:1397-1407``).

    One row per cluster that has >= 1 in-cluster scored pair:
    (cluster_id, n_scored_pairs, avg_similarity).  Two hash joins (pairs are
    tiny relative to the corpus) + one groupBy on cluster_id — vs the
    reference's O(|group|^2) python dict probing per group.
    """
    a = assignments.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("_ca")
    )
    b = assignments.select(
        F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("_cb")
    )
    return (
        scored_pairs.join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored_pairs"),
            F.round(F.avg("similarity"), 6).alias("avg_similarity"),
        )
    )
