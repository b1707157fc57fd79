"""Structured Streaming extension: incremental near-dup.

The reference has no true streaming (SURVEY.md §2.7): its nearest analogs are
the resume-from-progress-file loop (``/root/reference/pipeline.py:162-173``)
and bounded producer/consumer queues (pipelining, not streaming).  The
idiomatic Spark extension for the same intent is ``stream_neardup``: new page
files appearing in a directory are signed, banded, verified and clustered via
``foreachBatch`` running the SAME batch stage functions (one code path for
batch and streaming — the lambda-architecture killer).  Its batch body,
``ingest_neardup_batch``, and the merge-on-read ``read_clusters`` /
``compact_clusters`` pair are exposed for direct callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig


def ingest_neardup_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    cat,
    cfg,
    compact_frac: float = 0.5,
    compact_min_rows: int = 50_000,
) -> None:
    """One incremental near-dup step over the checkpoint catalog (the
    ``foreachBatch`` body of :func:`stream_neardup`; exposed separately so
    batch tests and backfills can drive it directly).

    ``compact_frac`` / ``compact_min_rows``: the ``clusters_delta``
    auto-compaction policy — fold the delta into the base when the delta
    exceeds BOTH bounds (see the policy block at the end).

    Work per batch is proportional to (new docs x matched buckets) plus CC
    over the accumulated EDGE set — never to the corpus size:

    0. drop re-crawled urls with one exact anti-join: the committed
       signature urls of EARLIER batches are scanned map-side against the
       broadcast batch ids, and the batch-sized hit set broadcast-anti-joins
       the batch (first-write-wins),
    1. sign the new pages (same ``build_signatures`` as the batch pipeline —
       one code path),
    2. band them and join against the stored signatures' ``band_keys``
       (exploded on read); the new side is tiny, so it broadcasts and the
       corpus band keys explode map-side (no corpus shuffle).  Every emitted
       pair touches >= 1 new doc, so no pair is re-verified across batches,
    3. verify with the same ``verify_pairs`` as the batch pipeline (its
       two-pass plan when the byte guard lets the pair set broadcast),
    4. append new signatures/edges, then maintain clusters
       INCREMENTALLY: contract new edges onto the stored cluster labels,
       run CC on the contracted (batch-sized) graph only, and append the
       delta — members of label-changed clusters plus this batch's docs —
       to ``clusters_delta`` (merge-on-read; ``read_clusters`` resolves
       precedence delta-side, so the per-batch READ is also delta-bounded:
       the base is scanned map-side, never shuffled).  A duplicate arriving
       in a later batch lands in its existing cluster (reference analog:
       the resume loop re-running dedup over new blobs,
       ``/root/reference/pipeline.py:464-471``), and per-batch write bytes
       are proportional to the touched clusters, never the corpus.

    Exactly-once: ``foreachBatch`` is at-least-once, so each completed batch
    id is recorded in ``_batches`` and a replay of a completed batch is a
    no-op.  A crash mid-batch may leave partial appends that the replay
    appends again.  Those duplicates are byte-identical (the re-crawl guard
    keeps a url in one batch, the within-batch pick is deterministic) and
    every consumer ignores them — ``melt_assemble``'s ``max(when(...))``,
    the band join's pair ``dropDuplicates``, CC and ``read_clusters`` work
    on sets — so nothing is de-duplicated on read.  A ``bands`` table left
    by an older version is never read and can be deleted.
    """
    from pyspark.sql import functions as F

    from image_deduplication_3m_images_spark.operators.cluster import (
        connected_components,
    )
    from image_deduplication_3m_images_spark.operators.lsh import explode_bands
    from image_deduplication_3m_images_spark.operators.verify import verify_pairs
    from image_deduplication_3m_images_spark.plans.dedupe import ID, build_signatures

    if cat.exists("_batches"):
        done = {r["batch_id"] for r in cat.read("_batches").collect()}
        if batch_id in done:
            return

    has_old = cat.exists("signatures")
    if has_old:
        # Re-crawl guard: a url delivered again in a LATER batch is ALREADY
        # ingested — signing it again would give the catalog two signature
        # rows for one id (duplicated verify joins; stale edges never
        # invalidated -> nondeterministic clusters).  Map-side two-step: the
        # corpus id column is scanned ONCE against the broadcast batch ids
        # (no corpus shuffle), and the resulting batch-sized `existing` set
        # broadcast-anti-joins the batch.  Rows from EARLIER batches only:
        # a crash-replay of THIS batch id re-delivers rows whose partial
        # appends carry the same batch_id — those must be re-processed (the
        # byte-identical double-append is harmless, see the docstring), not
        # filtered out (that would silently lose the batch's edges/clusters).
        batch_ids = batch_df.select(ID).distinct()
        existing = (
            cat.read("signatures")
            .where(F.col("batch_id") < F.lit(batch_id))
            .select(ID)
            .join(F.broadcast(batch_ids), ID, "leftsemi")
        )
        batch_df = batch_df.join(F.broadcast(existing), ID, "left_anti")
    # WITHIN-batch re-delivery: one url twice in a micro-batch would emit two
    # signature rows with the SAME batch_id (two different pages under one
    # id if the html differs) — keep one row per url
    # before signing, chosen DETERMINISTICALLY (min content hash), because a
    # crash-replay re-runs this pick: dropDuplicates keeps an arbitrary row,
    # so a replay could sign different html than the crashed attempt whose
    # partial edge appends are already committed — exactly the stale-edge
    # nondeterminism the guard exists to rule out.  POLICY (here and for the
    # cross-batch guard above): re-crawled content is FIRST-WRITE-WINS — a
    # url's signatures, edges and cluster membership reflect the first html
    # ingested for it; re-crawls with changed content are dropped, not
    # re-clustered (ADVICE r4 item 2).
    from pyspark.sql import Window

    w_dedup = Window.partitionBy(ID).orderBy(
        F.xxhash64(F.col("html")).asc_nulls_first(),
        F.xxhash64(F.col("text")).asc_nulls_first(),
    )
    batch_df = (
        batch_df.withColumn("_rn", F.row_number().over(w_dedup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    sig_new = (
        build_signatures(batch_df, cfg)
        .withColumn("batch_id", F.lit(batch_id))
        # lazy: the count below materializes the checkpoint in the same
        # job (used 4x below; batch-sized, not corpus-sized)
        .localCheckpoint(eager=False)
    )
    n_new = sig_new.count()
    bands_new = explode_bands(sig_new.select(ID, "band_keys"), id_col=ID)

    sig_all = cat.read("signatures").unionByName(sig_new) if has_old else sig_new
    bands_all = explode_bands(sig_all.select(ID, "band_keys"), id_col=ID)

    # Broadcast the NEW side only when it fits cluster-wide (same two-level
    # byte guard as the batch pipeline: object size AND size x executors —
    # a broadcast is fetched+held PER EXECUTOR).  A normal micro-batch is
    # tiny and broadcasts (corpus band keys explode map-side, no shuffle); a
    # huge backfill batch (availableNow over a pre-existing directory delivers
    # the WHOLE backlog as one batch) falls back to a plain shuffle join,
    # which is the right plan at that size rather than an >8 GB broadcast.
    from image_deduplication_3m_images_spark.session import broadcast_fits

    # id + band_id + band_key longs + row overhead
    small_bands = broadcast_fits(spark, n_new * cfg.bands * 64)
    new_side = bands_new.select("band_id", "band_key", F.col(ID).alias("id_n"))
    pairs = (
        (F.broadcast(new_side) if small_bands else new_side)
        .join(
            bands_all.select("band_id", "band_key", F.col(ID).alias("id_o")),
            ["band_id", "band_key"],
        )
        .where(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        # consumed twice (byte-guard stats agg + edge append): checkpoint so
        # the band join runs once per batch, mirroring sig_new's treatment
        .localCheckpoint(eager=True)
    )

    # same byte guard as the batch pipeline: broadcast the pair set (so the
    # corpus-wide signatures never shuffle) unless a pathological band
    # explosion makes it large
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("id_a") + F.length("id_b")).alias("avg_id_bytes"),
    ).collect()[0]
    est_bytes = (stats["n"] or 0) * ((stats["avg_id_bytes"] or 0.0) + 16)
    small_pairs = broadcast_fits(spark, est_bytes)
    vp_release: list = []
    try:
        verified = verify_pairs(
            F.broadcast(pairs) if small_pairs else pairs,
            sig_all,
            cfg,
            id_col=ID,
            prefilter_broadcast=small_pairs,
            release=vp_release,
        )
        new_edges = (
            verified.where(F.col("verified"))
            .select("id_a", "id_b")
            # consumed by the edge append AND the cluster contraction below;
            # batch-sized
            .localCheckpoint(eager=True)
        )
    finally:
        # new_edges is checkpointed (or verify failed): verify's pass-A
        # cache is dead weight — one leaked frame per micro-batch otherwise
        for _df in vp_release:
            _df.unpersist(blocking=False)

    cat.append(sig_new, "signatures")
    cat.append(new_edges.withColumn("batch_id", F.lit(batch_id)), "edges")

    # --- INCREMENTAL cluster maintenance (VERDICT r3 item 2) --------------
    # Bytes written per batch are proportional to the TOUCHED clusters, not
    # the corpus: new edges are CONTRACTED onto the stored cluster labels
    # (label(x) = stored cluster id, or x itself for unseen ids), CC runs on
    # the contracted batch-sized graph only, and the delta — members of
    # clusters whose label changed, plus this batch's docs — is APPENDED to
    # ``clusters_delta`` (merge-on-read; ``read_clusters`` resolves latest-
    # per-id, ``compact_clusters`` folds the delta into the base).  The
    # label-min invariant (cluster id = min member url) is preserved
    # inductively: old labels are the min of their members, so min-of-labels
    # = min-of-members for every merged component.  The stored clusters
    # table is SCANNED map-side (broadcast batch-sized sets) but never
    # shuffled and never rewritten.
    maybe_bcast = F.broadcast if small_pairs else (lambda df: df)
    new_ids = sig_new.select(F.col(ID).alias("id"))
    if cat.exists("clusters") or cat.exists("clusters_delta"):
        current = read_clusters(cat, id_col=ID).withColumnRenamed(ID, "id")
    else:
        # first batch: no stored labels, every id labels itself
        current = spark.createDataFrame([], "id string, cluster_id string")
    nodes = (
        new_edges.select(F.col("id_a").alias("id"))
        .unionByName(new_edges.select(F.col("id_b").alias("id")))
        .dropDuplicates(["id"])
    )
    known = current.join(maybe_bcast(nodes), "id")  # map-side corpus scan
    lmap = (
        nodes.join(known.select("id", "cluster_id"), "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("lab"))
        .localCheckpoint(eager=True)  # batch-sized, consumed 3x
    )
    contracted = (
        new_edges.join(
            maybe_bcast(lmap.select(F.col("id").alias("id_a"),
                                    F.col("lab").alias("lab_a"))), "id_a")
        .join(
            maybe_bcast(lmap.select(F.col("id").alias("id_b"),
                                    F.col("lab").alias("lab_b"))), "id_b")
        .where(F.col("lab_a") != F.col("lab_b"))
        .select(F.col("lab_a").alias("id_a"), F.col("lab_b").alias("id_b"))
    )
    assignments = connected_components(contracted)
    changed = (
        assignments.where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("old_label"),
                F.col("cluster_id").alias("new_label"))
        .localCheckpoint(eager=True)  # batch-sized, consumed 2x
    )
    # members of clusters whose label changed — one more map-side scan
    # of the stored clusters; output is proportional to touched clusters
    upd_existing = current.join(
        maybe_bcast(changed), current["cluster_id"] == F.col("old_label")
    ).select("id", F.col("new_label").alias("cluster_id"))
    new_rows = (
        new_ids.join(maybe_bcast(lmap), "id", "left")
        .select("id", F.coalesce("lab", F.col("id")).alias("lab0"))
        .join(maybe_bcast(changed), F.col("lab0") == F.col("old_label"), "left")
        .select("id", F.coalesce("new_label", F.col("lab0")).alias("cluster_id"))
    )
    delta = upd_existing.unionByName(new_rows)
    cat.append(
        delta.select(F.col("id").alias(ID), "cluster_id")
        .withColumn("batch_id", F.lit(batch_id)),
        "clusters_delta",
    )
    # auto-compaction policy (VERDICT r4 item 5): an unattended stream must
    # not let the delta grow without bound (every read pays the delta
    # window + base anti-join).  Fold delta into base when delta rows exceed
    # a fraction of the base (footer counts, driver-side, no jobs); the
    # trigger and sizes go to lineage so compaction is never silent.
    delta_rows = cat.row_count("clusters_delta")
    base_rows = cat.row_count("clusters") if cat.exists("clusters") else 0
    if delta_rows >= compact_min_rows and delta_rows >= compact_frac * base_rows:
        compact_clusters(cat, id_col=ID)
        cat.log_event(
            "clusters_compaction",
            cfg.config_hash(),
            extra={
                "batch_id": int(batch_id),
                "delta_rows": int(delta_rows),
                "base_rows_before": int(base_rows),
            },
        )
    cat.append(
        spark.createDataFrame([(int(batch_id),)], "batch_id long"), "_batches"
    )


def read_clusters(cat, id_col: str = "url") -> DataFrame:
    """Current cluster assignment = MERGE-ON-READ over base + delta, with
    precedence resolved DELTA-SIDE ONLY (VERDICT r4 item 3): the latest
    (max batch_id) row per id within ``clusters_delta`` wins via a
    delta-sized window, then the corpus-sized base contributes only ids the
    delta doesn't carry (left_anti against the delta id set, broadcast when
    small).  The base is SCANNED but never shuffled — per-micro-batch read
    cost is O(delta), not an O(corpus) window shuffle.  The ParquetCatalog
    model of an Iceberg MOR table."""
    from pyspark.sql import Window

    has_base = cat.exists("clusters")
    has_delta = cat.exists("clusters_delta")
    if not has_base and not has_delta:
        raise ValueError("catalog has no clusters/clusters_delta table")
    base = cat.read("clusters").select(id_col, "cluster_id") if has_base else None
    if not has_delta:
        return base

    w = Window.partitionBy(id_col).orderBy(
        F.col("batch_id").desc(), F.col("cluster_id").asc()
    )
    delta_latest = (
        cat.read("clusters_delta")
        .select(id_col, "cluster_id", "batch_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, "cluster_id")
    )
    if base is None:
        return delta_latest
    delta_ids = delta_latest.select(id_col)
    # footer-count byte guard (driver-side, no job): broadcast the delta id
    # set so the base anti-join stays a map-side scan; a compaction-overdue
    # delta falls back to a shuffle anti-join instead of OOMing the broadcast
    if cat.row_count("clusters_delta") * 64 < 256 * 1024 * 1024:
        delta_ids = F.broadcast(delta_ids)
    return base.join(delta_ids, id_col, "left_anti").unionByName(delta_latest)


def compact_clusters(cat, id_col: str = "url") -> None:
    """Fold ``clusters_delta`` into the base ``clusters`` table: ONE
    corpus-sized write, run as an explicit maintenance job when the delta
    has grown (the Iceberg analog: snapshot compaction after MERGE
    commits).  ``write`` materializes to a tmp dir before swapping, so
    reading the old base while writing the new one is safe."""
    if not cat.exists("clusters_delta"):
        return
    cat.write(read_clusters(cat, id_col=id_col), "clusters")
    cat.drop("clusters_delta")


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    trigger_available_now: bool = True,
):
    """Incremental streaming near-dup: the full LSH -> verify -> CC loop as
    a ``foreachBatch`` stream over the checkpoint catalog (SURVEY §2.7's
    idiomatic extension; VERDICT r2 item 5).  New page files landing in
    ``input_dir`` are signed, banded against everything already ingested,
    verified, and merged into the ``clusters`` table in ``warehouse``.
    Returns the started StreamingQuery.
    """
    from image_deduplication_3m_images_spark.sources.checkpoint import make_catalog

    cfg = cfg or DedupConfig()
    cat = make_catalog(spark, warehouse)
    pages_schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    stream = spark.readStream.schema(pages_schema).parquet(input_dir)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_neardup_batch(spark, batch_df, batch_id, cat, cfg)

    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

