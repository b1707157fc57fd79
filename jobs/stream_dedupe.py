"""spark-submit entry point for the INCREMENTAL near-duplicate pipeline.

Watches ``--input`` for new page parquet files and runs the streaming
LSH -> verify -> CC loop (``streaming/incremental.py:stream_neardup``)
against the checkpoint catalog in ``--warehouse``: each micro-batch is
signed, banded against everything already ingested, verified, and merged
into the ``clusters`` table.  Replays are idempotent (batch-id markers),
so the job can be killed and restarted at any point.

Production: spark-submit --py-files dist/pkg.zip jobs/stream_dedupe.py \
    --input <pages parquet dir> --warehouse <catalog dir> \
    --stream-checkpoint <streaming checkpoint dir> [--follow]

Default is one ``availableNow`` drain (process everything new, then exit,
printing a one-line JSON summary); ``--follow`` keeps the query running
until killed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from image_deduplication_3m_images_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet dir to watch")
    ap.add_argument("--warehouse", required=True, help="checkpoint catalog dir")
    ap.add_argument(
        "--stream-checkpoint",
        help="streaming checkpoint dir (default: <warehouse>/_stream_ckpt)",
    )
    ap.add_argument("--cores", type=int, default=default_cores())
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--follow", action="store_true",
        help="keep streaming until killed instead of one availableNow drain",
    )
    args = ap.parse_args()

    from image_deduplication_3m_images_spark.session import get_spark
    from image_deduplication_3m_images_spark.sources.checkpoint import make_catalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        stream_neardup,
    )

    spark = get_spark(cores=args.cores, master=args.master)
    ckpt = args.stream_checkpoint or os.path.join(args.warehouse, "_stream_ckpt")
    q = stream_neardup(
        spark,
        args.input,
        args.warehouse,
        ckpt,
        trigger_available_now=not args.follow,
    )
    q.awaitTermination()
    if args.follow:
        return
    cat = make_catalog(spark, args.warehouse)
    if cat.exists("clusters") or cat.exists("clusters_delta"):
        from pyspark.sql import functions as F

        from image_deduplication_3m_images_spark.streaming.incremental import (
            read_clusters,
        )

        row = (
            read_clusters(cat)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("cluster_id").alias("n_clusters"),
            )
            .collect()[0]
        )
        print(json.dumps({"n_docs": row["n_docs"], "n_clusters": row["n_clusters"]}))
    else:
        print(json.dumps({"n_docs": 0, "n_clusters": 0}))
    spark.stop()


if __name__ == "__main__":
    main()
