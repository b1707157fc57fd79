"""End-to-end planted-cluster recovery — the main correctness gate.

Webtext mirror of the reference's synthetic-feature E2E
(``/root/reference/tests/performance/test_comprehensive.py:117-250``):
generate a deterministic pages fixture with planted duplicate clusters, run
the full pipeline, assert

  * per-row invariant: extracted text byte-identical to the fixture oracle,
  * row preservation: every url appears exactly once in the output,
  * dup-pair recall >= 0.99 (north rule),
  * hard negatives never merge (precision guard),
  * exactly one is_best per cluster,
  * resume: re-run from checkpoints reproduces identical clusters.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.plans.dedupe import build_signatures, run_dedupe
from image_deduplication_3m_images_spark.sources.pages_fixture import (
    generate_pages,
    pages_dataframe,
)

CFG = DedupConfig()


@pytest.fixture(scope="module")
def fixture():
    return generate_pages(n_rows=300, seed=42)


@pytest.fixture(scope="module")
def pages(spark, fixture):
    return pages_dataframe(spark, fixture).cache()


@pytest.fixture(scope="module")
def report(spark, pages, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    out = run_dedupe(spark, pages, wh, CFG).cache()
    out.count()
    return out


def test_extraction_byte_identical(spark, pages):
    """sha256(extracted text) == sha256(oracle text) for every url."""
    sig = build_signatures(pages, CFG)
    joined = sig.select("url", F.col("text").alias("extracted")).join(
        pages.select("url", "text"), "url"
    )
    bad = joined.where(
        F.sha2(F.col("extracted").cast("binary"), 256)
        != F.sha2(F.col("text").cast("binary"), 256)
    ).count()
    assert bad == 0


def test_row_preservation(report, fixture):
    urls = [r["url"] for r in report.select("url").collect()]
    assert len(urls) == fixture.n_rows
    assert len(set(urls)) == fixture.n_rows


def _dup_pairs(items):
    """Set of unordered same-cluster pairs from (url, cluster) tuples."""
    by_cluster: dict[str, list[str]] = {}
    for url, cl in items:
        by_cluster.setdefault(cl, []).append(url)
    pairs = set()
    for members in by_cluster.values():
        for a, b in itertools.combinations(sorted(members), 2):
            pairs.add((a, b))
    return pairs


def test_dup_pair_recall(report, fixture):
    expected = _dup_pairs(
        (t["url"], t["expected_cluster_id"])
        for t in fixture.truth
        if t["expected_is_dup"]
    )
    got = _dup_pairs(
        (r["url"], r["cluster_id"])
        for r in report.select("url", "cluster_id").collect()
    )
    recall = len(expected & got) / len(expected)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_hard_negatives_not_merged(report, fixture):
    neg_urls = {
        t["url"]: t["expected_cluster_id"]
        for t in fixture.truth
        if t["expected_cluster_id"].startswith("hardneg_")
    }
    rows = report.where(F.col("url").isin(list(neg_urls))).collect()
    # every hard-negative doc must be in a singleton cluster
    clusters: dict[str, list[str]] = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r["url"])
    for members in clusters.values():
        assert len(members) == 1, f"hard negatives merged: {members}"


def test_one_best_per_cluster(report):
    agg = report.groupBy("cluster_id").agg(
        F.sum(F.col("is_best").cast("int")).alias("n_best")
    )
    assert agg.where(F.col("n_best") != 1).count() == 0


def test_skew_cluster_recovered(report, fixture):
    """The 404 skew-bomb cluster (hot band bucket -> star edges) must still
    come back as one connected cluster."""
    skew_urls = [
        t["url"] for t in fixture.truth if t["expected_cluster_id"] == "skew_404"
    ]
    rows = report.where(F.col("url").isin(skew_urls)).select("cluster_id").collect()
    assert len({r["cluster_id"] for r in rows}) == 1


def test_resume_identical(spark, pages, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse_resume"))
    first = run_dedupe(spark, pages, wh, CFG)
    snap1 = sorted(
        (r["url"], r["cluster_id"], r["is_best"]) for r in first.collect()
    )
    # second run resumes from completed checkpoints (no recompute)
    second = run_dedupe(spark, pages, wh, CFG, resume=True)
    snap2 = sorted(
        (r["url"], r["cluster_id"], r["is_best"]) for r in second.collect()
    )
    assert snap1 == snap2

