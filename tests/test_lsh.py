"""LSH skew-tier tests: small buckets get full pairs, medium buckets get
salted sub-bucket joins + star edges, mega buckets get star edges only —
and every tier keeps the bucket fully connected (no silent pair drops,
unlike the reference's caps at deduplication.py:314-326).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.operators.cluster import connected_components
from image_deduplication_3m_images_spark.operators.lsh import candidate_pairs

CFG = DedupConfig()  # cap 64, salt_factor 8 -> salted tier up to 512

SIG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("band_keys", ArrayType(LongType(), False), False),
    ]
)


def _same_sig_df(spark, n, base=0):
    """n docs with identical band keys: one bucket of size n per band."""
    keys = [1000 + b for b in range(CFG.bands)]
    return spark.createDataFrame([(base + i, keys) for i in range(n)], SIG_SCHEMA)


def _pairs(spark, n):
    df = candidate_pairs(_same_sig_df(spark, n), CFG, id_col="doc_id")
    return df.select("id_a", "id_b").collect()


def test_small_bucket_full_pairs(spark):
    rows = _pairs(spark, 10)
    assert len(rows) == 45  # C(10,2): nothing dropped in the small tier


def test_medium_bucket_salted_join_connected(spark):
    n = 100  # cap < 100 <= cap*salt -> salted tier
    rows = _pairs(spark, n)
    n_pairs = len(rows)
    # far fewer than C(100,2)=4950, but more than a bare star (n-1)
    assert n - 1 <= n_pairs < 2500, n_pairs
    # connectivity is exact: one component
    edges = spark.createDataFrame(rows, ["id_a", "id_b"])
    comp = connected_components(edges)
    assert comp.select("cluster_id").distinct().count() == 1
    assert comp.count() == n


def test_mega_bucket_star_only_connected(spark):
    n = 600  # > cap*salt -> star tier
    rows = _pairs(spark, n)
    assert len(rows) == n - 1  # exactly a star
    edges = spark.createDataFrame(rows, ["id_a", "id_b"])
    comp = connected_components(edges)
    assert comp.select("cluster_id").distinct().count() == 1
    assert comp.count() == n


def test_band_keys_deterministic(spark):
    from image_deduplication_3m_images_spark.operators.lsh import explode_bands

    sig = _same_sig_df(spark, 3)
    a = {(r["doc_id"], r["band_id"]): r["band_key"] for r in explode_bands(sig, "doc_id").collect()}
    b = {(r["doc_id"], r["band_id"]): r["band_key"] for r in explode_bands(sig, "doc_id").collect()}
    assert a == b
    # band_id is the key's position in band_keys, for every doc
    for doc in range(3):
        assert [a[(doc, band)] for band in range(CFG.bands)] == [
            1000 + band for band in range(CFG.bands)
        ]


def test_candidate_pairs_leaves_no_cached_blocks(spark):
    """Regression: the skew path used to persist the banded frame and never
    unpersist it — repeated calls accreted cached blocks for the life of the
    session.  The operator must leave the RDD cache exactly as it found it."""
    def persisted_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return set(jmap.keySet().toArray())

    before = persisted_ids()
    for i in range(3):
        candidate_pairs(
            _same_sig_df(spark, 200, base=i * 1000), CFG, id_col="doc_id"
        ).count()
    leaked = persisted_ids() - before  # other tests' blocks may be GC'd away;
    # only NEW blocks surviving the calls count as a leak
    assert not leaked, f"candidate_pairs leaked cached RDD ids {sorted(leaked)}"

def test_hot_bucket_probe_detects_hot_and_clears_clean(spark):
    """The sampled skew probe fires on a rep-space hot bucket (many DISTINCT
    texts sharing a band key) and stays off for a clean corpus — in both the
    exact and the sampled regime.  Note the probe works in rep space on
    purpose: a bomb of IDENTICAL texts collapses to one representative and
    correctly needs no skew tier (exact-first design)."""
    from image_deduplication_3m_images_spark.operators.lsh import hot_bucket_probe

    n_hot, n_clean = 400, 4000
    hot_keys = [1000 + b for b in range(CFG.bands)]
    rows = [(i, f"sha_hot_{i}", hot_keys) for i in range(n_hot)] + [
        (n_hot + i, f"sha_u_{i}", [10_000 + i * CFG.bands + b for b in range(CFG.bands)])
        for i in range(n_clean)
    ]
    df = spark.createDataFrame(
        rows, "sid long, text_sha256 string, band_keys array<long>"
    )
    n = n_hot + n_clean
    exact = hot_bucket_probe(df, CFG, n_rows=n, target_sample=n)
    assert exact["probe_fraction"] == 1.0 and exact["hot_detected"], exact
    sampled = hot_bucket_probe(df, CFG, n_rows=n, target_sample=n // 10)
    assert sampled["probe_fraction"] == 0.1 and sampled["hot_detected"], sampled

    clean = df.where(~F.col("text_sha256").startswith("sha_hot"))
    assert not hot_bucket_probe(clean, CFG, n_rows=n_clean, target_sample=n_clean)[
        "hot_detected"
    ]
    assert not hot_bucket_probe(
        clean, CFG, n_rows=n_clean, target_sample=n_clean // 10
    )["hot_detected"]

    # reps_df reuse (the pipeline hands its rep_bands frame to the probe):
    # identical verdict to the internal collapse on the exact path, and
    # IGNORED on the sampled path (sampling must collapse after sampling)
    reps = df.groupBy("text_sha256").agg(
        F.min("sid").alias("sid"), F.first("band_keys").alias("band_keys")
    ).select("sid", "band_keys")
    via_reps = hot_bucket_probe(df, CFG, n_rows=n, target_sample=n, reps_df=reps)
    assert via_reps == exact, (via_reps, exact)
    # sampling is deterministic (fixed seed), so the sampled probe must be
    # BIT-IDENTICAL with and without reps_df — this pins that reps_df is
    # truly ignored on the sampled path, not just that a fraction < 1 was
    # computed (a regression that consumed reps_df pre-collapse would
    # change sample_max_bucket and fail here)
    sampled_reps = hot_bucket_probe(
        df, CFG, n_rows=n, target_sample=n // 10, reps_df=reps
    )
    assert sampled_reps == sampled, (sampled_reps, sampled)
