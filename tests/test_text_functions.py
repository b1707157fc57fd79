"""Text-function unit tests: extraction edge cases, quality/langid/token-count
determinism (FIXTURES.md §4-5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.functions.text import (
    _extract_text_pd,
    langid_expr,
    n_tokens_bpe_expr,
    n_tokens_ws_expr,
    quality_expr,
)
from image_deduplication_3m_images_spark.sources.pages_fixture import render_html


def test_extract_edge_cases():
    rows = [
        ("no-title", b"<html><body><p>only body</p></body></html>", "only body"),
        ("no-para", render_html("just title", "").replace(b"<p></p>", b""), "just title"),
        ("empty", b"<html></html>", ""),
        ("two-paras", b"<html><head><title>t</title></head><body><p>a</p><p>b</p></body></html>", "t\na\nb"),
    ]
    got = _extract_text_pd(pd.Series([h for _, h, _ in rows]))
    assert len(got) == len(rows)
    for (u, _, expect), text in zip(rows, got):
        assert text == expect, (u, text, expect)


def test_quality_and_tokens_deterministic(spark):
    df = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", ""), ("c", "x " * 200)], ["id", "text"]
    ).select(
        "id",
        quality_expr(F.col("text")).alias("q"),
        n_tokens_ws_expr(F.col("text")).alias("ws"),
        n_tokens_bpe_expr(F.col("text")).alias("bpe"),
        langid_expr(F.col("text")).alias("lang"),
    )
    got = {r["id"]: r for r in df.collect()}
    assert got["b"]["q"] == 0.0 and got["b"]["ws"] == 0
    assert got["a"]["ws"] == 4
    assert got["a"]["lang"] == "en"  # contains 'the'
    assert got["c"]["lang"] == "und"
    # quality bounded
    for r in got.values():
        assert 0.0 <= r["q"] <= 100.0
