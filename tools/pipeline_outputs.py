"""Dump the pipeline's and the stream's outputs as sorted JSON, so two
versions of the program can be compared on the same input.

Usage: python tools/pipeline_outputs.py OUT.json [seed ...]   (default seeds 1 2 3)

For each seed it records:

* batch: ``run_dedupe(resume=False)`` over benchmark input
  ``gen.write_crawl(root, seed, 6000)`` (a crawl with planted duplicate
  groups and a templated skew cluster): the sorted ``report`` rows and the
  sorted ``(url_a, url_b, verified)`` rows of ``verified_pairs``, its
  surrogate ids mapped back to urls (the smaller url first), so the rows do
  not depend on how ids were assigned;
* stream: benchmark input ``gen.write_stream(root, seed, 800, 3, 500)`` (a
  seed crawl and three micro-batches with planted duplicates and
  re-crawls), ingested in order with
  ``ingest_neardup_batch(compact_min_rows=10**9)`` (so no compaction hides a
  batch's delta rows): the sorted rows of the ``edges`` and
  ``clusters_delta`` tables and of ``read_clusters``.

Two checkouts agree when their OUT files are byte-identical
(``cmp a.json b.json``).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rows(df) -> list[list]:
    return sorted(list(map(str, r)) for r in df.collect())


def _batch(spark, tmp: str, seed: int) -> dict:
    from pyspark.sql import functions as F

    from image_deduplication_3m_images_spark.plans.dedupe import run_dedupe
    from image_deduplication_3m_images_spark.sources.checkpoint import make_catalog
    from perfbench import gen

    root = os.path.join(tmp, "crawl")
    gen.write_crawl(root, seed, 6000)
    wh = os.path.join(tmp, "wh_batch")
    pages = spark.read.parquet(os.path.join(root, "pages"))
    report = run_dedupe(spark, pages, wh, resume=False)
    cat = make_catalog(spark, wh)
    urls = cat.read("signatures").select("sid", "url")
    verified = (
        cat.read("verified_pairs")
        .join(urls.toDF("id_a", "url_a"), "id_a")
        .join(urls.toDF("id_b", "url_b"), "id_b")
        .select(
            F.least("url_a", "url_b"), F.greatest("url_a", "url_b"), "verified"
        )
    )
    return {"report": _rows(report), "verified_pairs": _rows(verified)}


def _stream(spark, tmp: str, seed: int) -> dict:
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import make_catalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
        read_clusters,
    )
    from perfbench import gen

    root = os.path.join(tmp, "inputs")
    gen.write_stream(root, seed, 800, 3, 500)
    cat = make_catalog(spark, os.path.join(tmp, "wh"))
    names = ["seed"] + [f"batch_{b:03d}" for b in range(3)]
    for batch_id, name in enumerate(names):
        pages = spark.read.parquet(os.path.join(root, name))
        ingest_neardup_batch(
            spark, pages, batch_id, cat, DedupConfig(), compact_min_rows=10**9
        )
    return {
        "edges": _rows(cat.read("edges").select("id_a", "id_b", "batch_id")),
        "clusters_delta": _rows(
            cat.read("clusters_delta").select("url", "cluster_id", "batch_id")
        ),
        "read_clusters": _rows(read_clusters(cat)),
    }


def main(out: str, seeds: list[int]) -> None:
    from image_deduplication_3m_images_spark.session import get_spark

    spark = get_spark()
    result = {}
    for seed in seeds:
        with tempfile.TemporaryDirectory() as tmp:
            result[str(seed)] = {**_batch(spark, tmp, seed), **_stream(spark, tmp, seed)}
        print(seed, {k: len(v) for k, v in result[str(seed)].items()})
    with open(out, "w") as f:
        json.dump(result, f, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], [int(s) for s in sys.argv[2:]] or [1, 2, 3])
