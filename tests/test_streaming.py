"""Structured Streaming tests: incremental near-dup ingestion resumes
exactly-once across restarts (reference analog: progress-file resume,
/root/reference/pipeline.py:162-173) and ends with the batch pipeline's
clusters.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.sources.pages_fixture import (
    generate_pages,
    pages_dataframe,
)


def test_stream_neardup_merges_later_duplicate_into_existing_cluster(
    spark, tmp_path
):
    """VERDICT r2 item 5: the incremental LSH->verify->CC loop.  Batch 1
    ingests most of a planted-cluster corpus; batch 2 (a stream RESTART,
    exercising the checkpoint) delivers held-out members of existing
    near-dup clusters — they must land in the clusters their mates already
    occupy, and the final partition must equal the batch pipeline's."""
    from image_deduplication_3m_images_spark.streaming.incremental import (
        stream_neardup,
    )
    from image_deduplication_3m_images_spark.plans.dedupe import run_dedupe

    fx = generate_pages(n_rows=150, seed=11)
    truth = {t["url"]: t["expected_cluster_id"] for t in fx.truth}
    # hold out ONE member of each of two multi-member planted clusters
    multi = {}
    for url, c in truth.items():
        if c.startswith(("near_", "exact_")):
            multi.setdefault(c, []).append(url)
    held_clusters = [c for c, urls in sorted(multi.items()) if len(urls) >= 3][:2]
    held = {multi[c][-1] for c in held_clusters}
    assert len(held) == 2

    pages = pages_dataframe(spark, fx)
    indir = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir)

    held_list = list(held)
    pages.where(~F.col("url").isin(held_list)).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = stream_neardup(spark, indir, wh, ckpt)
    q.awaitTermination(300)
    pages.where(F.col("url").isin(held_list)).coalesce(1) \
        .write.mode("append").parquet(indir)
    q2 = stream_neardup(spark, indir, wh, ckpt)
    q2.awaitTermination(300)

    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        read_clusters,
    )

    got = {
        r["url"]: r["cluster_id"]
        for r in read_clusters(ParquetCatalog(spark, wh)).collect()
    }
    assert len(got) == len(fx.rows)
    # each held-out doc joined the cluster its mates already formed
    for c in held_clusters:
        mates = [u for u in multi[c] if u not in held]
        held_member = [u for u in multi[c] if u in held][0]
        assert got[held_member] == got[mates[0]], (c, held_member)

    # full equivalence: same cluster partition as the batch pipeline
    batch_report = run_dedupe(spark, pages, str(tmp_path / "wh_batch"))
    batch = {
        r["url"]: r["cluster_id"]
        for r in batch_report.select("url", "cluster_id").collect()
    }

    def partition(assign):
        groups = {}
        for u, c in assign.items():
            groups.setdefault(c, set()).add(u)
        return {frozenset(g) for g in groups.values() if len(g) > 1}

    assert partition(got) == partition(batch)

def test_ingest_refuses_canonicalize_urls(spark, tmp_path):
    """The stream keys pages by their raw url: a config asking for
    canonical urls must fail loudly, not change only the config hash."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    pages = pages_dataframe(spark, generate_pages(n_rows=20, seed=3))
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="canonicalize"):
        ingest_neardup_batch(
            spark, pages, 0, cat, DedupConfig(canonicalize_urls=True)
        )
    assert not cat.exists("signatures")


def test_ingest_neardup_batch_replay_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a COMPLETED batch id must not
    duplicate signatures/edges or change clusters."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
        read_clusters,
    )

    fx = generate_pages(n_rows=60, seed=21)
    pages = pages_dataframe(spark, fx)
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cfg = DedupConfig()
    ingest_neardup_batch(spark, pages, 0, cat, cfg)
    n_sig = cat.read("signatures").count()
    n_edges = cat.read("edges").count()
    n_delta = cat.read("clusters_delta").count()
    clusters1 = sorted(
        (r["url"], r["cluster_id"]) for r in read_clusters(cat).collect()
    )
    # replay the same batch id -> complete no-op
    ingest_neardup_batch(spark, pages, 0, cat, cfg)
    assert cat.read("signatures").count() == n_sig
    assert cat.read("edges").count() == n_edges
    assert cat.read("clusters_delta").count() == n_delta
    clusters2 = sorted(
        (r["url"], r["cluster_id"]) for r in read_clusters(cat).collect()
    )
    assert clusters1 == clusters2
    # the batch was committed by one lineage marker, not a table of its own
    markers = [r for r in cat.lineage() if r["stage"] == "batch_complete"]
    assert [json.loads(r["extra"]) for r in markers] == [{"batch_id": 0}]
    assert not cat.exists("_batches")

def test_ingest_neardup_delta_proportional_to_touched_cluster(spark, tmp_path):
    """VERDICT r3 item 2's done-criterion: when batch K touches ONE existing
    cluster, the rows written that batch are proportional to that cluster
    (its members + the batch docs), NOT the corpus — and the merged view
    still equals the batch pipeline's partition."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        compact_clusters,
        ingest_neardup_batch,
        read_clusters,
    )

    fx = generate_pages(n_rows=150, seed=11)
    truth = {t["url"]: t["expected_cluster_id"] for t in fx.truth}
    multi = {}
    for url, c in truth.items():
        if c.startswith(("near_", "exact_")):
            multi.setdefault(c, []).append(url)
    target = next(c for c, urls in sorted(multi.items()) if len(urls) >= 3)
    held = sorted(multi[target])[-1]  # hold out one member of ONE cluster

    pages = pages_dataframe(spark, fx)
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cfg = DedupConfig()
    ingest_neardup_batch(spark, pages.where(F.col("url") != held), 0, cat, cfg)
    n_corpus = cat.read("clusters_delta").count()

    ingest_neardup_batch(spark, pages.where(F.col("url") == held), 1, cat, cfg)
    delta1 = cat.read("clusters_delta").where("batch_id = 1")
    n_delta1 = delta1.count()
    # batch 1 may touch at most: the held doc + members of its (single)
    # target cluster — never the corpus
    assert n_delta1 <= len(multi[target]) + 1, delta1.collect()
    assert n_delta1 < n_corpus / 10

    got = {r["url"]: r["cluster_id"] for r in read_clusters(cat).collect()}
    assert len(got) == len(fx.rows)
    mates = [u for u in multi[target] if u != held]
    assert got[held] == got[mates[0]]

    # compaction folds the delta into the base without changing the view
    compact_clusters(cat)
    assert not cat.exists("clusters_delta")
    after = {r["url"]: r["cluster_id"] for r in read_clusters(cat).collect()}
    assert after == got


def _bridge_pages(spark):
    """Five pages: clusters {a0, a1} and {b0, b1}, and a bridge page ``c``.
    ``c``'s text is contained in a1's and in b1's (each adds its own 40
    tokens) and shares a band with each; a0 and b0 edit three tokens of
    ``c``'s run, so neither contains it.  With these tokens no a-page shares
    a band with a b-page, and neither a0 nor b0 shares one with ``c`` (the
    test asserts the edges this gives)."""
    import random
    from datetime import datetime

    from image_deduplication_3m_images_spark.sources.pages_fixture import (
        expected_text,
        render_html,
    )

    rng = random.Random(12)

    def words(n):
        return [f"w{rng.randrange(100000)}" for _ in range(n)]

    def edit(toks, positions):
        out = list(toks)
        for p in positions:
            out[p] = f"e{rng.randrange(100000)}"
        return out

    core, extra_a, extra_b = words(120), words(40), words(40)
    bodies = {
        "a0": edit(core, (20, 60, 100)) + extra_a,
        "a1": core + extra_a,
        "b0": edit(core, (30, 70, 110)) + extra_b,
        "b1": core + extra_b,
        "c": core,
    }
    ts = datetime(2024, 1, 1)
    rows = [
        (url, ts, render_html("bridge page", " ".join(b)),
         expected_text("bridge page", " ".join(b)), "en")
        for url, b in bodies.items()
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_ingest_bridge_page_merges_two_stored_clusters(spark, tmp_path):
    """A new page that verifies against a non-label page of each of two
    stored clusters merges them: every member ends under the smaller label,
    the batch rewrites only the members of the cluster whose label moved
    (plus the page itself), and the partition equals the batch pipeline's."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.plans.dedupe import run_dedupe
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    pages = _bridge_pages(spark)
    cfg = DedupConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, pages.where(F.col("url") != "c"), 0, cat, cfg)
    # precondition 1: batch 0 stores two separate two-page clusters
    assert dict(_sorted_clusters(cat)) == {
        "a0": "a0", "a1": "a0", "b0": "b0", "b1": "b0",
    }

    ingest_neardup_batch(spark, pages.where(F.col("url") == "c"), 1, cat, cfg)
    # precondition 2: the page verifies against one non-label page of each
    edges1 = {
        (r["id_a"], r["id_b"])
        for r in cat.read("edges").where("batch_id = 1").collect()
    }
    assert edges1 == {("a1", "c"), ("b1", "c")}

    got = dict(_sorted_clusters(cat))
    assert got == {u: "a0" for u in ("a0", "a1", "b0", "b1", "c")}
    delta1 = {
        (r["url"], r["cluster_id"])
        for r in cat.read("clusters_delta").where("batch_id = 1").collect()
    }
    assert delta1 == {("b0", "a0"), ("b1", "a0"), ("c", "a0")}

    batch = run_dedupe(spark, pages, str(tmp_path / "wh_batch"))
    assert {r["url"]: r["cluster_id"] for r in batch.collect()} == got


def test_read_clusters_plan_has_no_corpus_exchange(spark, tmp_path):
    """VERDICT r4 item 3's done-criterion: the merge-on-read resolution must
    shuffle ONLY the delta — the corpus-sized base is scanned (anti-join
    against the broadcast delta id set) but never enters an Exchange.  The
    only shuffle exchange allowed in the plan is the delta-sized window."""
    import io
    from contextlib import redirect_stdout

    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        read_clusters,
    )

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(f"u{i}", f"u{i}") for i in range(500)], ["url", "cluster_id"]
    )
    cat.write(base, "clusters")
    delta = spark.createDataFrame(
        [("u1", "u0", 0), ("u2", "u0", 1)], ["url", "cluster_id", "batch_id"]
    )
    cat.append(delta, "clusters_delta")

    merged = read_clusters(cat)
    buf = io.StringIO()
    with redirect_stdout(buf):
        merged.explain("formatted")
    plan = buf.getvalue()
    # base side joins via broadcast ANTI-join (no exchange on the base); the
    # only shuffle exchanges are the delta-sized window hashpartitionings
    # (the window appears twice: once for the delta id set inside the
    # broadcast subtree, once for the delta winners in the union branch)
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:3000]
    n_shuffle_exchanges = plan.count(") Exchange")
    assert n_shuffle_exchanges <= 2, plan[:3000]
    # and the merge itself is correct: delta rows win, base fills the rest
    got = {r["url"]: r["cluster_id"] for r in merged.collect()}
    assert len(got) == 500
    assert got["u1"] == "u0" and got["u2"] == "u0" and got["u3"] == "u3"


def test_read_clusters_byte_guard_is_broadcast_fits(spark, tmp_path, monkeypatch):
    """read_clusters broadcasts the delta id set only when the shared
    ``broadcast_fits`` guard (object size AND cluster-wide cost) allows it;
    when the guard refuses, the base anti-join plans as a shuffle join.
    Spark's own size-based broadcast is off here, so any broadcast in the
    plan comes from the guard."""
    import io
    from contextlib import redirect_stdout

    from image_deduplication_3m_images_spark import session
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        read_clusters,
    )

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cat.write(
        spark.createDataFrame([(f"u{i}", f"u{i}") for i in range(50)],
                              ["url", "cluster_id"]),
        "clusters",
    )
    cat.append(
        spark.createDataFrame([("u1", "u0", 0)], ["url", "cluster_id", "batch_id"]),
        "clusters_delta",
    )

    def plan_of(fits: bool) -> tuple[str, dict]:
        monkeypatch.setattr(session, "broadcast_fits", lambda *a, **kw: fits)
        merged = read_clusters(cat)
        buf = io.StringIO()
        with redirect_stdout(buf):
            merged.explain("formatted")
        return buf.getvalue(), {r["url"]: r["cluster_id"] for r in merged.collect()}

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        fits_plan, fits_rows = plan_of(True)
        refused_plan, refused_rows = plan_of(False)
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" in fits_plan and "LeftAnti" in fits_plan, fits_plan
    assert "Broadcast" not in refused_plan, refused_plan
    assert "SortMergeJoin" in refused_plan and "LeftAnti" in refused_plan, refused_plan
    assert fits_rows == refused_rows
    assert len(fits_rows) == 50 and fits_rows["u1"] == "u0"


def test_ingest_auto_compaction_bounds_delta(spark, tmp_path):
    """VERDICT r4 item 5: an unattended stream must keep the delta bounded
    by the policy — with an aggressive policy every batch folds the delta
    into the base, the merged view stays equal to a batch run, and the
    compaction is lineage-logged (never silent)."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.plans.dedupe import run_dedupe
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        COMPACT_FRAC,
        ingest_neardup_batch,
        read_clusters,
    )

    fx = generate_pages(n_rows=120, seed=31)
    pages = pages_dataframe(spark, fx)
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cfg = DedupConfig()

    # 4 micro-batches, compaction policy: fold whenever delta >= 1 row and
    # >= COMPACT_FRAC of base
    splits = pages.withColumn("_b", F.abs(F.hash("url")) % 4)
    for b in range(4):
        ingest_neardup_batch(
            spark,
            splits.where(F.col("_b") == b).drop("_b"),
            b,
            cat,
            cfg,
            compact_min_rows=1,
        )
        # the policy bound holds after every batch: either the delta was
        # folded away, or what remains is under COMPACT_FRAC of the base
        d = cat.row_count("clusters_delta") if cat.exists("clusters_delta") else 0
        base = cat.row_count("clusters") if cat.exists("clusters") else 0
        assert d == 0 or d < COMPACT_FRAC * base, (b, d, base)

    got = {r["url"]: r["cluster_id"] for r in read_clusters(cat).collect()}
    assert len(got) == len(fx.rows)

    # compaction events are lineage-logged
    events = sum(r["stage"] == "clusters_compaction" for r in cat.lineage())
    assert events >= 1

    # merged view == batch pipeline partition
    batch_report = run_dedupe(spark, pages, str(tmp_path / "wh_batch"))
    batch = {
        r["url"]: r["cluster_id"]
        for r in batch_report.select("url", "cluster_id").collect()
    }

    def partition(assign):
        groups = {}
        for u, c in assign.items():
            groups.setdefault(c, set()).add(u)
        return {frozenset(g) for g in groups.values() if len(g) > 1}

    assert partition(got) == partition(batch)


def test_within_batch_duplicate_url_winner_is_deterministic(spark, tmp_path):
    """One url delivered twice in a micro-batch with DIFFERENT html: the
    signed row must be the same (min content hash) no matter the delivery
    order — dropDuplicates' arbitrary winner would let a crash-replay sign
    different html than the crashed attempt whose edges already committed."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    pages = pages_dataframe(spark, generate_pages(n_rows=20, seed=47))
    first_url = pages.select("url").orderBy("url").limit(1).collect()[0]["url"]
    mutated = (
        pages.where(F.col("url") == first_url)
        .withColumn(
            "html",
            F.encode(
                F.lit("<html><body><p>mutated alternate delivery</p></body></html>"),
                "utf-8",
            ),
        )
        .withColumn("text", F.lit("mutated alternate delivery"))
    )
    cfg = DedupConfig()
    texts = {}
    for name, batch in (
        ("orig_first", pages.unionByName(mutated)),
        ("mutated_first", mutated.unionByName(pages)),
    ):
        cat = ParquetCatalog(spark, str(tmp_path / name))
        ingest_neardup_batch(spark, batch, 0, cat, cfg)
        sigs = cat.read("signatures").where(F.col("url") == first_url).collect()
        assert len(sigs) == 1  # exactly one signed row for the url
        texts[name] = sigs[0]["text"]
    assert texts["orig_first"] == texts["mutated_first"]


def _split_batches(pages, n_batches):
    b = F.abs(F.xxhash64("url")) % n_batches
    return [pages.where(b == i) for i in range(n_batches)]


def _sorted_clusters(cat):
    from image_deduplication_3m_images_spark.streaming.incremental import (
        read_clusters,
    )

    return sorted((r["url"], r["cluster_id"]) for r in read_clusters(cat).collect())


def test_recrawled_url_dropped_before_signing(spark, tmp_path):
    """First-write-wins across batches: a url re-delivered in a LATER batch
    with different html/text is dropped by the re-crawl guard before it is
    signed — one signature row per url, and the clusters equal those of a
    run that never saw the re-delivery."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    pages = pages_dataframe(spark, generate_pages(n_rows=120, seed=31))
    batches = _split_batches(pages, 3)
    # batch 0's urls come back inside batch 2 with DIFFERENT content, so a
    # re-sign would change signatures, edges and clusters
    recrawl = batches[0].withColumn(
        "text", F.concat(F.lit("recrawled different content "), F.col("text"))
    ).withColumn(
        "html",
        F.encode(
            F.concat(
                F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
            ),
            "utf-8",
        ),
    )
    cfg = DedupConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cat_ref = ParquetCatalog(spark, str(tmp_path / "wh_ref"))
    for i, b in enumerate(batches):
        ingest_neardup_batch(
            spark, b.unionByName(recrawl) if i == 2 else b, i, cat, cfg
        )
        ingest_neardup_batch(spark, b, i, cat_ref, cfg)

    n_urls = pages.select("url").distinct().count()
    sigs = cat.read("signatures")
    assert sigs.count() == n_urls  # every re-crawl dropped pre-sign
    assert sigs.where(F.col("text").startswith("recrawled")).count() == 0
    assert _sorted_clusters(cat) == _sorted_clusters(cat_ref)


@pytest.mark.parametrize("verify_path", ["broadcast", "shuffle"])
def test_crash_replay_reprocesses_own_partial_appends(
    spark, tmp_path, monkeypatch, verify_path
):
    """A crash after batch N's ``signatures`` append but before its
    ``batch_complete`` marker leaves N's rows committed.  The guard only treats
    urls of EARLIER batches as seen, so the replay of N re-processes those
    rows (instead of dropping them as re-crawls) and ends in the same
    clusters as a crash-free run.  A LATER batch then bands against and
    verifies over the twice-stored rows of N; the corpus is not
    de-duplicated on read, so the clusters must still equal the crash-free
    run's — on the fused broadcast probe and on the shuffle-join fallback
    that the byte guard picks for oversized batches."""
    from image_deduplication_3m_images_spark import session
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    if verify_path == "shuffle":
        monkeypatch.setattr(session, "broadcast_fits", lambda *a, **kw: False)

    class _CrashAfterSignatures:
        """Catalog proxy that dies on the first append after signatures."""

        def __init__(self, inner):
            self._inner = inner

        def append(self, df, table):
            if table != "signatures":
                raise RuntimeError("simulated crash")
            self._inner.append(df, table)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    pages = pages_dataframe(spark, generate_pages(n_rows=150, seed=39))
    b0, b1, b2 = _split_batches(pages, 3)
    cfg = DedupConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, b0, 0, cat, cfg)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ingest_neardup_batch(spark, b1, 1, _CrashAfterSignatures(cat), cfg)
    n_b1 = b1.count()
    assert cat.read("signatures").where(F.col("batch_id") == 1).count() == n_b1
    assert 1 not in {
        json.loads(r["extra"])["batch_id"]
        for r in cat.lineage()
        if r["stage"] == "batch_complete"
    }

    ingest_neardup_batch(spark, b1, 1, cat, cfg)  # the replay
    # re-processed, not filtered: the replay appended batch 1 a second time
    assert cat.read("signatures").where(F.col("batch_id") == 1).count() == 2 * n_b1

    cat_ref = ParquetCatalog(spark, str(tmp_path / "wh_ref"))
    ingest_neardup_batch(spark, b0, 0, cat_ref, cfg)
    ingest_neardup_batch(spark, b1, 1, cat_ref, cfg)
    assert _sorted_clusters(cat) == _sorted_clusters(cat_ref)

    # batch 2 probes and verifies against batch 1's duplicated rows
    ingest_neardup_batch(spark, b2, 2, cat, cfg)
    ingest_neardup_batch(spark, b2, 2, cat_ref, cfg)
    assert _sorted_clusters(cat) == _sorted_clusters(cat_ref)
    # the later batch's docs joined clusters of the replayed batch, so the
    # comparison above covered matches against the duplicated rows
    clusters = dict(_sorted_clusters(cat))
    b1_urls = {r["url"] for r in b1.select("url").collect()}
    b2_urls = {r["url"] for r in b2.select("url").collect()}
    b1_clusters = {clusters[u] for u in b1_urls}
    assert any(clusters[u] in b1_clusters for u in b2_urls)


def test_ingest_verify_input_has_no_corpus_exchange(spark, tmp_path, monkeypatch):
    """Per-batch work must not be proportional to the corpus: in the fused
    band-probe + verdict plan the stored ``signatures`` table is scanned
    once, with no shuffle Exchange above it (a corpus-wide dropDuplicates
    or a shuffle join would put one there and shuffle every stored text
    each micro-batch)."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.operators import verify
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    captured = []
    orig = verify.verdict

    def _capture(assembled, cfg):
        captured.append(orig(assembled, cfg))
        return captured[-1]

    monkeypatch.setattr(verify, "verdict", _capture)
    pages = pages_dataframe(spark, generate_pages(n_rows=80, seed=43))
    b0, b1 = _split_batches(pages, 2)
    cfg = DedupConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, b0, 0, cat, cfg)
    ingest_neardup_batch(spark, b1, 1, cat, cfg)
    assert len(captured) == 2

    sig_path = os.path.join(str(tmp_path / "wh"), "signatures")

    def scans(node, under_shuffle):
        """(root paths, under a shuffle Exchange?) of each file scan."""
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return scans(node.executedPlan(), under_shuffle)
        if name == "FileSourceScanExec":
            roots = node.relation().location().rootPaths().mkString(",")
            return [(roots, under_shuffle)]
        under_shuffle = under_shuffle or name == "ShuffleExchangeExec"
        kids = node.children()
        return [
            hit
            for k in range(kids.size())
            for hit in scans(kids.apply(k), under_shuffle)
        ]

    plan = captured[1]._jdf.queryExecution().executedPlan()
    stored = [
        shuffled
        for roots, shuffled in scans(plan, False)
        if roots.endswith(sig_path)
    ]
    assert len(stored) == 1, plan.toString()  # the probe reads it once
    assert not any(stored), plan.toString()


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launched, counted with a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = "jobs_" + uuid.uuid4().hex[:8]
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_batch_job_budget(spark, tmp_path):
    """A micro-batch onto a stored corpus runs a bounded number of Spark
    jobs: verification happens inside the band probe (no pair set, stats
    or verify-pass jobs) and table reads take their schema from the
    footers (no schema-inference job per read)."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    pages = pages_dataframe(spark, generate_pages(n_rows=80, seed=43))
    b0, b1 = _split_batches(pages, 2)
    cfg = DedupConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, b0, 0, cat, cfg)
    n_jobs = _spark_jobs(spark, lambda: ingest_neardup_batch(spark, b1, 1, cat, cfg))
    assert n_jobs <= 26, n_jobs


def test_first_batch_cc_input_scans_no_python_rows(spark, tmp_path, monkeypatch):
    """The first batch has no stored labels, and its empty label frame is a
    JVM-side frame: the only existing-RDD scans in batch 0's CC input read
    the batch's checkpointed (id_a, id_b) edges.  A ``createDataFrame([])``
    label frame would add a scan of pickled Python rows over (url,
    cluster_id), starting Python workers to read nothing."""
    import re

    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.operators import cluster
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    captured = []
    orig = cluster.connected_components

    def _capture(edges, *args, **kwargs):
        captured.append(edges)
        return orig(edges, *args, **kwargs)

    monkeypatch.setattr(cluster, "connected_components", _capture)
    pages = pages_dataframe(spark, generate_pages(n_rows=60, seed=43))
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, pages, 0, cat, DedupConfig())
    assert len(captured) == 1

    plan = captured[0]._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)
    assert scans, plan  # the checkpointed edges
    for cols in scans:
        names = [c.split("#")[0] for c in cols.split(",")]
        assert names == ["id_a", "id_b"], plan


@pytest.mark.parametrize("guard", ["broadcast", "shuffle"])
def test_ingest_edges_equal_verify_pairs_over_band_join(
    spark, tmp_path, monkeypatch, guard
):
    """The fused probe (broadcast) and its shuffle fallback append, for a
    batch onto a stored corpus, exactly the edges ``verify_pairs`` accepts
    over the plain band join of the batch against everything stored — one
    row per edge.  The fixture's batch holds containment-only matches,
    candidates the verdict rejects and new-new pairs, so every branch of
    the probe's pair rules and of the verdict is compared."""
    from image_deduplication_3m_images_spark import session
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.operators.lsh import explode_bands
    from image_deduplication_3m_images_spark.operators.verify import verify_pairs
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    pages = pages_dataframe(spark, generate_pages(n_rows=150, seed=7))
    b0, b1 = _split_batches(pages, 2)
    cfg = DedupConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, b0, 0, cat, cfg)
    if guard == "shuffle":
        monkeypatch.setattr(session, "broadcast_fits", lambda *a, **kw: False)
    ingest_neardup_batch(spark, b1, 1, cat, cfg)

    sig = cat.read("signatures")

    def bands(df, name):
        return explode_bands(df.select("url", "band_keys"), id_col="url").select(
            "band_id", "band_key", F.col("url").alias(name)
        )

    pairs = (
        bands(sig.where(F.col("batch_id") == 1), "id_n")
        .join(bands(sig, "id_o"), ["band_id", "band_key"])
        .where(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .distinct()
    )
    ref = verify_pairs(pairs, sig, cfg, id_col="url").collect()
    got = [
        (r["id_a"], r["id_b"])
        for r in cat.read("edges").where(F.col("batch_id") == 1).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == {(r["id_a"], r["id_b"]) for r in ref if r["verified"]}

    b1_urls = {r["url"] for r in b1.select("url").collect()}
    sim_ok = [
        r["sig_matches"] >= 90 or r["hamming"] <= cfg.hamming_max for r in ref
    ]
    assert any(r["containment"] and not ok for r, ok in zip(ref, sim_ok))
    assert any(not r["verified"] for r in ref)
    assert any(
        r["verified"] and r["id_a"] in b1_urls and r["id_b"] in b1_urls
        for r in ref
    )


def test_batch_is_signed_on_every_core(spark, tmp_path, monkeypatch):
    """The batch reaches the fused html->signature UDF in the session's
    parallelism: left to AQE, the within-batch pick's tiny window exchange
    is coalesced to one partition and one task signs the whole batch."""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.plans import dedupe
    from image_deduplication_3m_images_spark.sources.checkpoint import ParquetCatalog
    from image_deduplication_3m_images_spark.streaming.incremental import (
        ingest_neardup_batch,
    )

    captured = []
    orig = dedupe.build_signatures

    def _capture(pages, cfg):
        captured.append(pages)
        return orig(pages, cfg)

    monkeypatch.setattr(dedupe, "build_signatures", _capture)
    pages = pages_dataframe(spark, generate_pages(n_rows=40, seed=17))
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    ingest_neardup_batch(spark, pages, 0, cat, DedupConfig())
    n_parts = captured[0].rdd.getNumPartitions()
    assert n_parts == spark.sparkContext.defaultParallelism, n_parts
