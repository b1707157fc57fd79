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


def pick_best(assignments: DataFrame, quality_df: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) + (doc_id, quality) -> adds quality,
    cluster_size, is_best.

    Exactly one ``is_best`` per cluster; ties broken by ascending id —
    deterministic (FIXTURES.md §4 best-pick determinism; reference tie-break
    was dict-iteration order, a nondeterminism we fix).

    LEFT join on quality: a member missing from ``quality_df`` (quality
    computed over a filtered subset) keeps its row with NULL quality —
    ``desc`` ordering puts NULLs last, so a quality-less member never wins
    ``is_best`` unless the whole cluster lacks quality (then min-id wins).
    An inner join here would silently shrink ``cluster_size`` and could
    delete a cluster's only ``is_best`` row.
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    sized = Window.partitionBy("cluster_id")
    return (
        assignments.join(quality_df.select("doc_id", "quality"), "doc_id", "left")
        .withColumn("cluster_size", F.count(F.lit(1)).over(sized))
        .withColumn("is_best", F.row_number().over(w) == 1)
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
