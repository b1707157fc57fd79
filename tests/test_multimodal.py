"""Multimodal plumbing tests: schema/batch-shape of the mapInPandas kernels
and exact-phash blocking, over deterministic synthetic binary payloads.
(Decode itself is a documented deterministic stub — no codecs here.)
"""

from __future__ import annotations

from image_deduplication_3m_images_spark.functions.multimodal import (
    image_features,
    sample_frames,
    synthetic_media,
)
from image_deduplication_3m_images_spark.operators.dedup import hamming_block_pairs


def test_image_features_schema_and_determinism(spark):
    media = synthetic_media(spark, n_rows=60, seed=42).cache()
    feats = image_features(media)
    rows1 = {r["media_id"]: r for r in feats.collect()}
    rows2 = {r["media_id"]: r for r in image_features(media).collect()}
    assert rows1.keys() == rows2.keys()
    n_images = media.where("kind = 'image'").count()
    assert len(rows1) == n_images
    for mid, r in rows1.items():
        assert r == rows2[mid]  # deterministic under re-execution
        assert 64 <= r["width"] <= 2048 and 64 <= r["height"] <= 2048
        assert r["n_bytes"] > 0


def test_media_dedup_candidates_find_planted_dups(spark):
    media = synthetic_media(spark, n_rows=60, seed=42).cache()
    feats = image_features(media).cache()
    pairs = hamming_block_pairs(feats, "phash64", "media_id", radius=3).collect()
    # synthetic_media plants exact payload copies every 7th row
    assert len(pairs) >= 1
    by_hash = {}
    for r in feats.collect():
        by_hash.setdefault(r["phash64"], []).append(r["media_id"])
    expected = sum(
        len(v) * (len(v) - 1) // 2 for v in by_hash.values() if len(v) > 1
    )
    assert len(pairs) == expected


def test_sample_frames(spark):
    media = synthetic_media(spark, n_rows=30, seed=42)
    frames = {r["media_id"]: r for r in sample_frames(media, every_k=2).collect()}
    n_videos = media.where("kind = 'video'").count()
    assert len(frames) == n_videos
    for r in frames.values():
        assert r["n_frames"] >= 1
        assert all(i < r["n_frames"] for i in r["sampled_frames"])
        assert r["sampled_frames"] == sorted(r["sampled_frames"])
