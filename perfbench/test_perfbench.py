"""Tests of the benchmark itself (not of the package).

    python -m pytest perfbench/test_perfbench.py -q

The first two tests need no Spark; the other two start one small local
session (about half a minute).
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402


def test_same_seed_same_inputs(tmp_path):
    a = gen.write_crawl(str(tmp_path / "a"), 7, 1200)
    b = gen.write_crawl(str(tmp_path / "b"), 7, 1200)
    c = gen.write_crawl(str(tmp_path / "c"), 8, 1200)
    assert a == b
    assert gen.digest(str(tmp_path / "a")) == gen.digest(str(tmp_path / "b"))
    assert gen.digest(str(tmp_path / "a")) != gen.digest(str(tmp_path / "c"))
    s1 = gen.write_stream(str(tmp_path / "s1"), 7, 500, 2, 400)
    s2 = gen.write_stream(str(tmp_path / "s2"), 7, 500, 2, 400)
    assert s1 == s2
    assert gen.digest(str(tmp_path / "s1")) == gen.digest(str(tmp_path / "s2"))
    assert a["max_group"] == gen.HOT_SIZE
    k1 = gen.write_catalog(str(tmp_path / "k1"), 7)
    k2 = gen.write_catalog(str(tmp_path / "k2"), 7)
    assert k1 == k2 and k1["documents"] == 500
    assert gen.digest(str(tmp_path / "k1")) == gen.digest(str(tmp_path / "k2"))


def test_quality_gates():
    import pandas as pd
    import workloads

    groups = (["hot"] * 200 + ["exact0"] * 4 + ["contain0"] * 2
              + ["hardneg0_0", "hardneg0_1"])
    truth = pd.DataFrame({"url": [f"u{i}" for i in range(len(groups))],
                          "group": groups})
    truth["hardneg"] = truth["group"].str.startswith("hardneg")
    good = truth.assign(cluster_id=truth["group"])[["url", "cluster_id"]]
    q = workloads.cluster_quality(good, truth)
    assert q["recall"] == q["small_group_recall"] == q["precision"] == 1.0
    assert workloads.quality_failures(q) == []

    # the missed containment pair barely moves recall, only small_group_recall
    split = good.assign(cluster_id=good["cluster_id"].where(good["url"] != "u205", "x"))
    q = workloads.cluster_quality(split, truth)
    assert q["recall"] > 0.99 and q["small_group_recall"] == 6 / 7
    assert workloads.quality_failures(q) == []
    # a lost exact copy, merged hard negatives or a lost page fails
    for i, cid in (("u201", "x"), ("u207", "hardneg0_0"), ("u0", None)):
        bad = good.assign(cluster_id=good["cluster_id"].where(good["url"] != i, cid))
        if cid is None:
            bad = bad[bad["url"] != i]
        q = workloads.cluster_quality(bad, truth)
        assert workloads.quality_failures(q), i


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from image_deduplication_3m_images_spark.session import get_spark

    s = get_spark(cores=2)
    yield s
    s.stop()


def test_hot_cluster_trips_probe(spark, tmp_path):
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.operators.lsh import hot_bucket_probe
    from image_deduplication_3m_images_spark.plans.dedupe import build_signatures
    from pyspark.sql import functions as F

    gen.write_crawl(str(tmp_path), 3, 1000)
    cfg = DedupConfig()
    pages = spark.read.parquet(str(tmp_path / "pages"))
    sig = build_signatures(pages, cfg).withColumn("sid", F.monotonically_increasing_id())
    profile = hot_bucket_probe(sig.select("sid", "text_sha256", "band_keys"), cfg)
    assert profile["hot_detected"]
    assert profile["sample_max_bucket"] > cfg.bucket_star_cap * cfg.salt_factor


def test_harvest_adds_no_jobs(spark):
    store = spark.sparkContext._jsc.sc().statusStore()
    tracer = tracing.Tracer(spark, enabled=True)
    with tracer.span("op"):
        with tracer.span("inner"):
            spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    before = store.jobsList(None).size()
    out = tracer.harvest(op_wall_s=1.0)
    assert store.jobsList(None).size() == before
    assert out["total"]["jobs"] >= 1
    assert out["layers"]["inner"]["jobs"] == out["total"]["jobs"]
    assert "op" not in out["layers"]
