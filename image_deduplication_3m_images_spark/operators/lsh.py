"""LSH banding + candidate-pair generation — the heart of the pipeline.

Reference analog: in-memory band-key dict + within-bucket pair loops with a
silent >1000-bucket skip and 50k pair cap
(``/root/reference/modules/deduplication.py:270-346``).  Spark-first design:
the shuffle on ``(band_id, band_key)`` *is* the LSH index; skewed ("hot")
buckets emit star edges to the bucket representative instead of O(n^2) pairs,
which preserves connectivity exactly (never silently drops a component link,
unlike the reference's cap) while bounding pair count linearly in bucket size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig


def explode_bands(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_keys) -> (id, band_id, band_key).

    ``band_keys`` (array<long>) is derived JVM-side from the packed MinHash
    by ``band_keys_from_packed_expr`` — a plain posexplode here: whole-stage
    codegen, no shuffle yet.
    """
    return sig_df.select(
        F.col(id_col), F.posexplode("band_keys").alias("band_id", "band_key")
    )


def _bucket_pairs_expr(ids):
    """All (i < j) pairs from a SORTED id array as a codegen'd expression:
    for each element x at index i, pair it with every later element.  Input
    arrays are bounded by the tier caps, so the output per row is bounded
    (cap=64 -> <= 2016 pairs)."""
    n = F.size(ids)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, n),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _explode_bucket_pairs(grouped: DataFrame) -> DataFrame:
    """(band_id, ids: sorted array) -> (band_id, band_key, id_a, id_b)."""
    return grouped.select(
        "band_id",
        "band_key",
        F.explode(_bucket_pairs_expr(F.col("ids"))).alias("p"),
    ).select("band_id", "band_key", "p.id_a", "p.id_b")


def candidate_pairs(
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    hot: bool = True,
) -> DataFrame:
    """Band-bucket grouping -> distinct candidate pairs (a < b).

    Physical shape: ONE shuffle of the exploded (id, band) rows into a
    groupBy(band_id, band_key) with a size-bounded collect_list, then pairs
    are expanded map-side by a codegen'd array expression — vs the naive
    self-join, this halves the shuffled bytes (the exploded frame moves
    once, not twice as both join sides) and replaces the hash-probe with
    array iteration.  collect_list is safe ONLY because every grouped tier
    is size-bounded (see below); the unbounded mega tier never collects.

    ``hot``: the skew verdict of :func:`hot_bucket_probe` over the same
    input (the pipeline logs it to lineage anyway).  ``hot=False`` skips
    the skew machinery entirely — statistics-driven plan selection; both
    plans give identical output when no bucket exceeds the star cap.

    Skew handling (the north rule's explicit requirement), three tiers by
    bucket size (hot buckets detected with a map-side-combined groupBy of
    (key, count, min) — tiny bytes — joined back broadcast under AQE;
    nothing is persisted, so repeated calls leave no cached blocks behind):
      * size <= cap:                 full within-bucket pairs (a < b),
        collect_list bounded by cap;
      * cap < size <= cap*salt:      SALTED-KEY sub-buckets — deterministic
        salt in [0, salt_factor); full pairs only within (band, key, salt)
        (collect_list bounded by the bucket cap), PLUS star edges to the
        bucket min so cross-salt connectivity is exact;
      * size > cap*salt (mega-hot):  star edges only — O(n) map-side edges
        that keep every member connected for clustering; never collected.
        (The reference silently DROPPED pairs past its caps,
        deduplication.py:314-326; no tier here loses a component link.)

    Returns (id_a, id_b, n_bands) with id_a < id_b, distinct.
    """
    flat = explode_bands(sig_df, id_col)
    if not hot:
        grouped = flat.groupBy("band_id", "band_key").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        return _explode_bucket_pairs(grouped).groupBy("id_a", "id_b").agg(
            F.count_distinct("band_id").alias("n_bands")
        )

    salt_max = cfg.bucket_star_cap * cfg.salt_factor
    hot_stats = (
        flat.groupBy("band_id", "band_key")
        .agg(
            F.count(F.lit(1)).alias("bucket_size"),
            F.min(id_col).alias("bucket_min"),
        )
        .where(F.col("bucket_size") > cfg.bucket_star_cap)
    )
    bands = flat.join(hot_stats, ["band_id", "band_key"], "left")

    small = bands.where(F.col("bucket_size").isNull())
    small_pairs = _explode_bucket_pairs(
        small.groupBy("band_id", "band_key").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
    )

    medium = bands.where(
        F.col("bucket_size").isNotNull() & (F.col("bucket_size") <= salt_max)
    ).withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(cfg.salt_factor)),
    )
    medium_pairs = _explode_bucket_pairs(
        medium.groupBy("band_id", "band_key", "salt").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
    )

    hot_pairs = (
        bands.where(
            F.col("bucket_size").isNotNull()
            & (F.col(id_col) != F.col("bucket_min"))
        )
        .select(
            F.col("band_id"),
            F.col("band_key"),
            F.col("bucket_min").alias("id_a"),
            F.col(id_col).alias("id_b"),
        )
    )

    pairs = small_pairs.unionByName(medium_pairs).unionByName(hot_pairs)
    return pairs.groupBy("id_a", "id_b").agg(
        F.count_distinct("band_id").alias("n_bands")
    )


# largest bucket the fast path is allowed to absorb undetected: C(4096, 2)
# ~ 8.4M pair structs in one task (~130 MB) — bounded; see hot_bucket_probe
_PROBE_MISS_CAP = 4096
# at or below this row count the probe is exact (fraction 1.0)
PROBE_TARGET_SAMPLE = 50_000


def hot_bucket_probe(
    narrow_sig: DataFrame,
    cfg: DedupConfig,
    n_rows: int | None = None,
    target_sample: int = PROBE_TARGET_SAMPLE,
) -> dict:
    """Sampled skew probe for the candidate-pair plan choice.

    ``narrow_sig`` carries ``sid``, ``text_sha256`` and ``band_keys``.  The
    exact bucket profile costs a full explode + corpus-wide groupBy —
    a duplicate of the candidate stage's heaviest shuffle, run purely to
    decide whether the skew tiers are needed.  This probe samples ~50k docs
    (exact below that), collapses exact-duplicate texts (matching rep_bands
    semantics), and measures the max band-bucket size in the sample.

    Decision rule: hot iff ``sample_max > bucket_star_cap * fraction`` —
    at fraction=1 this is exactly the old ``max_bucket > cap`` test; at
    2M docs (fraction ~0.025) it fires on any bucket with >= 2 sampled
    members.  SENSITIVITY FLOOR: a fixed ~50k sample thins with corpus
    size, and at (say) 100M rows a 3000-member bucket would land ~1.5
    sampled members — a ~22% chance of zero, and a miss routes the plan
    to the fast path whose per-bucket pair expansion is O(B^2).  The
    sampled fraction therefore has a floor (see the miss-cap math below —
    the cap scales with a user-raised ``bucket_star_cap``): any bucket the
    fast path could not absorb (> ~_PROBE_MISS_CAP members,
    ~C(cap,2)=8.4M pairs in one task) lands >= ~10 expected sampled
    members ABOVE the decision threshold, P(miss) <= e^-10, AT ANY corpus
    size — while the probe stays ~400x cheaper than the exact profile.
    Buckets between star_cap and _PROBE_MISS_CAP may still slip, which is
    bounded-harmless (their collect_list and pair counts are capped by
    construction).  Being wrong in the other direction just runs the
    general tiers on a clean corpus — correct, slightly slower.  The probe result is logged to
    lineage, so tier activation is never silent.

    The probe always collapses its own narrow input (after sampling, which
    keeps the fraction math honest); it shares no frame with the caller.
    """
    # The miss condition is sample_max <= star_cap * fraction (not zero
    # sampled members), so the floor must keep a miss-cap-sized bucket's
    # EXPECTED sample ~10 above that threshold — scale the miss cap with a
    # user-raised star cap, else a star_cap near _PROBE_MISS_CAP would put
    # the threshold at the expected count itself (a coin-flip miss).
    miss_cap = max(_PROBE_MISS_CAP, 2 * cfg.bucket_star_cap)
    floor = min(1.0, 10.0 / max(1, miss_cap - cfg.bucket_star_cap))
    fraction = (
        1.0
        if not n_rows or n_rows <= target_sample
        else max(target_sample / n_rows, floor)
    )
    # fixed sampling seed: the verdict is reproducible run to run
    s = narrow_sig if fraction >= 1.0 else narrow_sig.sample(False, fraction, 42)
    reps = s.groupBy("text_sha256").agg(
        F.min("sid").alias("sid"), F.first("band_keys").alias("band_keys")
    )
    row = (
        explode_bands(reps, "sid")
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]
    )
    sample_max = int(row["m"] or 0)
    # integer evidence floor (ADVICE r5): past ~3.2M rows the threshold
    # cap*fraction drops below 1, so ANY sampled 2-member bucket flagged
    # hot and the probe degenerated to always-hot at scale.  Requiring
    # >= 2 sampled co-bucketed members keeps a lone singleton from
    # triggering the tiers while leaving the miss-cap math above intact
    # (a miss-cap bucket lands ~10 expected members, far above 2).
    hot = sample_max > cfg.bucket_star_cap * fraction and sample_max >= 2
    return {
        "probe_fraction": round(fraction, 6),
        "sample_max_bucket": sample_max,
        "hot_detected": bool(hot),
    }
