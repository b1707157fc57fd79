"""Web-pipeline hygiene ops: canonical-URL dedup and PII scrub.

The oracle parity harness proves the full queries against DuckDB; these
unit tests pin the EDGE semantics of the expressions themselves on
handcrafted rows (cases a synthetic corpus may not cover every round).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.functions.text import (
    canonical_url_expr,
    pii_counts_exprs,
    redact_pii_expr,
)


def _one_col(spark, values, fn, out="v"):
    df = spark.createDataFrame([(v,) for v in values], ["raw"])
    rows = df.select(fn(F.col("raw")).alias(out)).collect()
    return [r[out] for r in rows]


def test_canonical_url_cases(spark):
    cases = {
        # scheme + www + case + query + trailing slash all stripped
        "https://WWW.Example.COM/Articles/7/?utm_source=x#frag": "example.com/articles/7",
        "http://example.com/articles/7": "example.com/articles/7",
        # www only stripped as a PREFIX label, not mid-host
        "https://news.www-like.com/a": "news.www-like.com/a",
        # multiple trailing slashes collapse
        "example.com/a///": "example.com/a",
        # bare host with fragment only
        "https://example.com#top": "example.com",
        # scheme-less input is already canonical-ish
        "WWW.EXAMPLE.COM/A?b=1": "example.com/a",
    }
    got = _one_col(spark, list(cases), canonical_url_expr)
    assert got == list(cases.values())


def test_canonical_url_distinct_hosts_stay_distinct(spark):
    urls = ["https://a.example.com/x", "https://b.example.com/x"]
    got = _one_col(spark, urls, canonical_url_expr)
    assert got[0] != got[1]


def test_pii_counts_and_redaction(spark):
    text = (
        "write to First.Last+tag@sub.Example.ORG or ops@a.io, "
        "call +1-555-0100, backup +1-555-9999; host 10.1.2.3 and 192.168.0.254."
    )
    df = spark.createDataFrame([(text,)], ["t"])
    c = pii_counts_exprs(F.col("t"))
    row = df.select(
        c["n_emails"].alias("e"),
        c["n_phones"].alias("p"),
        c["n_ips"].alias("i"),
        redact_pii_expr(F.col("t")).alias("red"),
    ).collect()[0]
    assert (row["e"], row["p"], row["i"]) == (2, 2, 2)
    red = row["red"]
    for token, n in (("[EMAIL]", 2), ("[PHONE]", 2), ("[IP]", 2)):
        assert red.count(token) == n, red
    # nothing PII-shaped survives redaction
    assert "@" not in red and "+1-" not in red and "10.1.2.3" not in red


def test_pii_redaction_order_email_before_ip(spark):
    # digits inside an email's host must be consumed by the EMAIL rule, not
    # half-eaten by the IP rule (the ordering contract in redact_pii_expr)
    text = "x 1.2.3.4@9.8.7.6.com y"
    red = _one_col(spark, [text], redact_pii_expr)[0]
    assert red == "x [EMAIL] y"


def test_pii_clean_text_untouched(spark):
    text = "plain prose with version 1.2 and price 3,4 but no pii"
    df = spark.createDataFrame([(text,)], ["t"])
    c = pii_counts_exprs(F.col("t"))
    row = df.select(
        c["n_emails"].alias("e"), c["n_phones"].alias("p"), c["n_ips"].alias("i"),
        redact_pii_expr(F.col("t")).alias("red"),
    ).collect()[0]
    assert (row["e"], row["p"], row["i"]) == (0, 0, 0)
    assert row["red"] == text


def test_url_dedup_keeps_exactly_one_per_canonical(spark):
    from image_deduplication_3m_images_spark.plans.queries import q_url_dedup

    out = q_url_dedup(spark, "/root/testdata/sf0.001").cache()
    per_key = (
        out.groupBy("canon_url")
        .agg(
            F.sum(F.col("is_kept").cast("int")).alias("kept"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert per_key and all(r["kept"] == 1 for r in per_key)
    # the synthetic planting rule collides: dedup must actually drop rows
    assert any(r["n"] > 1 for r in per_key)
    out.unpersist()


def test_pack_documents_invariants(spark):
    from image_deduplication_3m_images_spark.operators.packing import (
        pack_documents,
    )

    docs = spark.createDataFrame(
        [(i, 10 + (i * 7) % 23) for i in range(0, 300, 3)],  # sparse ids
        ["doc_id", "n_tokens"],
    )
    out = pack_documents(docs, budget=64, bucket_rows=16).orderBy("doc_id")
    rows = out.collect()
    assert len(rows) == 100  # every doc exactly once
    # offsets are the exact exclusive prefix sum in doc_id order
    run = 0
    for r in rows:
        assert r["offset"] == run, (r, run)
        assert r["pack_id"] == run // 64
        run += r["n_tokens"]


def test_pack_documents_distributed_equals_single_bucket(spark):
    from image_deduplication_3m_images_spark.operators.packing import (
        pack_documents,
    )

    docs = spark.createDataFrame(
        [(i * 11 + (i % 5), 1 + (i % 37)) for i in range(500)],
        ["doc_id", "n_tokens"],
    ).repartition(8)
    many = pack_documents(docs, budget=100, bucket_rows=13)
    one = pack_documents(docs, budget=100, bucket_rows=1_000_000_000)
    assert many.exceptAll(one).isEmpty() and one.exceptAll(many).isEmpty()


def test_pack_documents_corpus_window_is_partitioned(spark):
    # the corpus-side cumsum must window PER BUCKET; only the tiny
    # bucket-offsets frame may use the unpartitioned global window
    from image_deduplication_3m_images_spark.operators.packing import (
        pack_documents,
    )

    docs = spark.createDataFrame([(i, 5) for i in range(50)], ["doc_id", "n_tokens"])
    plan = pack_documents(docs, budget=64, bucket_rows=8)._jdf.queryExecution().executedPlan().toString()
    import re

    windows = re.findall(r"Window \[.*?\]", plan)
    partitioned = [w for w in windows if "_bucket" in w]
    assert partitioned, plan  # per-bucket window present


def test_contamination_flags_planted(spark):
    from image_deduplication_3m_images_spark.operators.decontaminate import (
        contamination_flags,
    )

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy dog tonight indeed"),
            (2, "completely unrelated words about spark shuffles and parquet footers here"),
            (3, "tiny doc"),  # shorter than n tokens -> zero grams, not null
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_flags(corpus, eval_df, 6, n=5).collect()
    }
    assert rows[1]["is_contaminated"] and rows[1]["n_hits"] >= 5
    assert not rows[2]["is_contaminated"] and rows[2]["n_hits"] == 0
    assert not rows[3]["is_contaminated"] and rows[3]["n_hits"] == 0


def test_contamination_small_eval_corpus_never_shuffles(spark):
    # small-eval form: corpus side is map-only vs one broadcast gram array —
    # the ONLY exchanges below the broadcast belong to the eval side
    from image_deduplication_3m_images_spark.operators.decontaminate import (
        contamination_flags,
    )

    eval_df = spark.createDataFrame([(0, "a b c d e f")], ["doc_id", "text"])
    corpus = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    plan = contamination_flags(corpus, eval_df, 2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    corpus_side = plan.split("BroadcastExchange", 1)[0]
    assert "Exchange" not in corpus_side, plan


def test_contamination_large_eval_uses_hash_join_narrow_exchange(spark):
    # large-eval form (forced via join_threshold=0): grams probe a broadcast
    # HASH relation (never a shuffled join), and the only corpus-side
    # exchange is the narrow per-doc count row — no text, no gram strings
    from image_deduplication_3m_images_spark.operators.decontaminate import (
        contamination_flags,
    )

    eval_df = spark.createDataFrame([(0, "a b c d e f")], ["doc_id", "text"])
    corpus = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    plan = (
        contamination_flags(corpus, eval_df, 2, join_threshold=0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    corpus_side = plan.split("BroadcastExchange", 1)[0]
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\([^)]+\)", corpus_side)
    assert len(exchanges) == len(re.findall("Exchange", corpus_side)), plan
    for e in exchanges:
        assert "doc_id" in e and "text" not in e, e


def test_contamination_both_forms_identical(spark):
    from image_deduplication_3m_images_spark.operators.decontaminate import (
        contamination_flags,
    )

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight"),
         (101, "pack my box with five dozen liquor jugs right now please")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(1, "x the quick brown fox jumps over the lazy dog tonight y"),
         (2, "pack my box with five dozen liquor jugs right now please"),
         (3, "no overlap at all in this particular document body"),
         (4, "tiny")],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, contamination_flags(corpus, eval_df, 14, n=5).collect()))
    b = sorted(map(tuple,
                   contamination_flags(corpus, eval_df, 14, n=5,
                                       join_threshold=0).collect()))
    assert a == b
    assert any(r[2] for r in a) and any(not r[2] for r in a)


def test_pipeline_canonicalize_urls_collapses_variants(spark, tmp_path):
    # three raw variants of ONE canonical url (+ one distinct page): with
    # the flag on, the pipeline keys on canonical urls — the report has one
    # row for the collapsed page, carrying the canonical url
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.plans.dedupe import run_dedupe

    import datetime

    ts = datetime.datetime(2025, 1, 1)
    big = b"<html><body><p>" + b"big content here " * 40 + b"</p></body></html>"
    small = b"<html><body><p>tiny</p></body></html>"
    rows = [
        ("https://WWW.Site.com/a/?utm=1", ts, big, "", "en"),
        ("http://site.com/a", ts, small, "", "en"),
        ("site.com/a/", ts, small, "", "en"),
        ("https://other.com/b", ts, b"<html><body><p>unrelated words entirely</p></body></html>", "", "en"),
    ]
    pages = spark.createDataFrame(rows, ["url", "warc_ts", "html", "text", "lang"])
    cfg = DedupConfig(canonicalize_urls=True)
    report = run_dedupe(
        spark, pages, str(tmp_path / "wh"), cfg, resume=False
    ).collect()
    urls = sorted(r["url"] for r in report)
    assert urls == ["other.com/b", "site.com/a"]
    # the kept row for site.com/a is the LARGEST variant's content: its
    # quality reflects the big html (the tiny variant would score lower)
    assert all(r["is_best"] for r in report)


def test_quality_funnel_shape_and_monotone(spark):
    from image_deduplication_3m_images_spark.plans.queries import (
        q_quality_funnel,
    )

    rows = q_quality_funnel(spark, "/root/testdata/sf0.001").collect()
    assert [r["rule"] for r in rows] == [
        "min_tokens", "mean_word_len", "alpha_ratio",
        "lexical_diversity", "quality_score",
    ]
    # survivors are monotone non-increasing down the chain
    cums = [r["n_pass_cum"] for r in rows]
    assert all(a >= b for a, b in zip(cums, cums[1:]))
    assert all(r["n_fail"] >= 0 for r in rows)
