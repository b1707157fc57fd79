"""spark-submit entry point for span-level substring dedup (Lee et al.
2022 semantics): cut every verbatim >= min-len character span that already
occurs in a lower-id doc, write the cleaned corpus, print one JSON summary.

Production: spark-submit --py-files dist/pkg.zip jobs/span_dedupe.py \
    --input <docs parquet (id + text cols)> --output <cleaned parquet dir>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from image_deduplication_3m_images_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--output", required=True, help="cleaned parquet dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-len", type=int, default=40,
                    help="minimum duplicated span length (characters); "
                    "must be >= window + 1 of the winnowing kernel")
    ap.add_argument("--window", type=int, default=8,
                    help="winnowing window (gram_len = min_len - window + 1)")
    ap.add_argument("--cores", type=int,
                    default=default_cores())
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if args.min_len < args.window + 1:
        ap.error(
            f"--min-len {args.min_len} too small: the winnowing kernel needs "
            f"gram_len = min_len - window + 1 >= 2, i.e. --min-len >= "
            f"{args.window + 1} at --window {args.window} (or lower --window)"
        )

    from pyspark.sql import functions as F

    from image_deduplication_3m_images_spark.operators.substring import (
        remove_duplicated_spans,
    )
    from image_deduplication_3m_images_spark.session import get_spark

    spark = get_spark(cores=args.cores, master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    cleaned = remove_duplicated_spans(
        docs, min_len=args.min_len, window=args.window,
        id_col=args.id_col, text_col=args.text_col
    )
    out = cleaned.withColumnRenamed(args.text_col, "original_text")
    out.write.mode("overwrite").parquet(args.output)

    stats = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("original_text")).alias("chars_in"),
            F.sum(F.length("clean_text")).alias("chars_out"),
            F.sum(
                (F.length("clean_text") < F.length("original_text")).cast("int")
            ).alias("n_docs_cut"),
        )
        .collect()[0]
    )
    print(
        json.dumps(
            {
                "n_docs": stats["n_docs"],
                "chars_in": stats["chars_in"],
                "chars_out": stats["chars_out"],
                "chars_removed": stats["chars_in"] - stats["chars_out"],
                "n_docs_cut": stats["n_docs_cut"],
                "min_len": args.min_len,
                "wall_s": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
