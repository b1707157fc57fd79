"""Sequence packing — assign documents to fixed-token-budget packs.

The standard LLM pre-training layout ("concat and chop"): documents are
concatenated in a deterministic global order and the stream is chopped into
``budget``-token packs; a document belongs to the pack containing its START
offset.  The assignment needs each document's global prefix-sum of tokens —
the naive form is a cumulative-sum window over ONE global ordering, i.e. a
single-partition window that serializes the corpus through one task.

This implementation is the scale-correct two-phase distributed prefix sum:

  1. bucket the corpus by a RANGE of the ordering key (contiguous key
     ranges -> per-bucket sums are independent),
  2. per-bucket token totals are tiny (one row per bucket) — cumulate them
     driver-free with a window over the BUCKET table and broadcast-join the
     per-bucket base offsets back,
  3. within each bucket, an ordinary partitioned cumulative window (each
     bucket is one window partition — bounded, parallel) plus the bucket's
     base offset gives every doc its exact global offset.

No stage ever windows over a single global partition; the only corpus-wide
exchange is the bucket repartition.  Reference analog: none (the reference
is an image pipeline); this is a target-side LLM-data-pipeline extension
(SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_documents(
    docs: DataFrame, budget: int, bucket_rows: int = 100_000
) -> DataFrame:
    """(doc_id, n_tokens, ...) -> (doc_id, n_tokens, offset, pack_id).

    ``offset`` is the document's global start position in the concatenated
    token stream under ascending ``doc_id`` order; ``pack_id = offset div
    budget``.  Deterministic for any partitioning (the order is a total
    order on ``doc_id``).  ``bucket_rows`` sizes the prefix-sum buckets via
    ``doc_id div bucket_rows`` — ids need not be dense; buckets only need to
    be contiguous ranges, and empty buckets cost nothing.
    """
    if budget <= 0 or bucket_rows <= 0:
        # `x div 0` is NULL under non-ANSI Spark — a mis-wired budget would
        # silently collapse the corpus into one NULL pack
        raise ValueError(f"budget and bucket_rows must be > 0, got "
                         f"{budget=}, {bucket_rows=}")
    d = docs.select("doc_id", "n_tokens")
    # integral `div`, not float `/` + cast: `/` on longs goes through double,
    # whose 53-bit mantissa silently rounds ids above 2^53 (content-hash-
    # derived ids are 64-bit) — `div` states the intent with no precision cliff
    bucketed = d.withColumn(
        "_bucket", F.expr(f"doc_id div {int(bucket_rows)}")
    )

    # phase 1+2: per-bucket totals, then the EXCLUSIVE running total of the
    # buckets before each bucket.  The bucket table is corpus_rows /
    # bucket_rows rows — small enough that its global window is a single
    # cheap task, and broadcastable back.
    bucket_offsets = (
        bucketed.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_bucket_tokens"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_bucket_tokens").over(
                    Window.orderBy("_bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_bucket", "_base")
    )

    # phase 3: within-bucket exclusive cumsum (each bucket = one bounded
    # window partition) + the bucket's base.
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        bucketed.withColumn(
            "_local", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
        )
        .join(F.broadcast(bucket_offsets), "_bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("_base") + F.col("_local")).alias("offset"),
            F.expr(f"(_base + _local) div {int(budget)}").alias("pack_id"),
        )
    )
