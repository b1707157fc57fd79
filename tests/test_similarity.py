"""ANN similarity-search tests: exact top-k vs the sign-LSH bucketed
variant (reference analog: FAISS-IVF radius search,
/root/reference/modules/deduplication.py:380-452).

The bucketed variant is approximate by design; these tests pin (a) its
determinism, (b) that Hamming-1 multiprobe strictly widens the candidate
set vs single-bucket matches, and (c) a recall floor vs brute force at the
pinned plane config — the quantity a 100 TB deployment tunes n_planes by.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.plans.queries import load
from image_deduplication_3m_images_spark.operators.similarity import (
    EMB_DIM,
    PLANE_SEED,
    brute_force_topk,
    cosine_expr,
    hyperplanes,
    make_signlsh_buckets_udf,
    signlsh_neardup_pairs,
    signlsh_topk,
)

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_signlsh_deterministic(spark):
    emb = load(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    a = signlsh_topk(emb, q, k=5, n_planes=8).collect()
    b = signlsh_topk(emb, q, k=5, n_planes=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_multiprobe_widens_candidates(spark):
    emb = load(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    # the single-probe candidates: same bucket in the one table
    budf = make_signlsh_buckets_udf([hyperplanes(EMB_DIM, 8, PLANE_SEED)])
    b = emb.select("vec_id", budf("embedding")[0].alias("bucket"))
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in b.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "bucket")
        .join(b.select(F.col("vec_id").alias("neighbor_id"), "bucket"), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .collect()
    }
    multi = _pairs(signlsh_topk(emb, q, k=50, n_planes=8))
    # at k >> bucket occupancy the top-k IS the candidate set, so the
    # multiprobe result must be a strict superset on this fixture
    assert single <= multi
    assert len(multi) > len(single)


def test_signlsh_recall_floor(spark):
    emb = load(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = _pairs(brute_force_topk(emb, q, k=5))
    # the catalog's pinned config: 8 tables x 5 bits + Hamming-1 multiprobe,
    # sized for this fixture's neighbor similarity (cosine ~0.32)
    approx = _pairs(signlsh_topk(emb, q, k=5, n_planes=5, n_tables=8))
    recall = len(exact & approx) / len(exact)
    # empirically 0.98 on this fixture; 0.8 is the regression floor (and
    # the north-rule recall bar for the dedup path)
    assert recall >= 0.8, f"signlsh recall {recall:.3f} below floor"


def test_neardup_pairs_subset_of_exact_and_recall(spark):
    emb = load(spark, SF, "embeddings")
    got = signlsh_neardup_pairs(emb, threshold=0.4).collect()
    # fixture-calibrated threshold yields a non-trivial pair set
    assert len(got) > 10
    # canonical orientation, threshold respected, no duplicate pairs
    assert all(r["id_a"] < r["id_b"] and r["cosine"] >= 0.4 for r in got)
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys))
    # every reported pair is in the EXACT >=0.4 set (LSH only loses recall,
    # never reports a false positive — the cosine filter is exact)
    e = emb.select("vec_id", "embedding")
    exact = {
        (r["id_a"], r["id_b"])
        for r in e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_expr(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .where(F.col("c") >= 0.4)
        .collect()
    }
    assert set(keys) <= exact
    recall = len(keys) / len(exact)
    # analytic collision prob at cosine 0.4 with 4 bits x 8 tables ~ 0.75;
    # 0.5 is the regression floor
    assert recall >= 0.5, f"neardup recall {recall:.3f} below floor"


def test_arrow_cosine_bit_identical_to_hof(spark):
    """The vectorized Arrow cosine (numpy cumsum left fold) must be
    BIT-identical to the higher-order-function column expression — the
    contract that lets the near-dup query verify pairs in one numpy batch
    pass while the DuckDB oracle keeps hash-matching (its list_sum is the
    same sequential fold)."""
    from image_deduplication_3m_images_spark.operators.similarity import (
        make_cosine_udf,
    )

    emb = load(spark, SF, "embeddings")
    e = emb.select("vec_id", "embedding")
    pairs = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        .select(
            F.col("a.embedding").alias("va"), F.col("b.embedding").alias("vb")
        )
    )
    cos_udf = make_cosine_udf()
    mismatch = pairs.where(
        cos_udf("va", "vb") != cosine_expr(F.col("va"), F.col("vb"))
    ).count()
    assert mismatch == 0


def test_zero_norm_embedding_never_a_neighbor(spark):
    """An all-zero embedding gives 0/0: unguarded, Spark's NaN sorts ABOVE
    every value descending and NaN >= t is TRUE, making the zero vector a
    rank-1 'neighbor' of everything.  The guard yields NULL instead —
    sorted last, never passing a threshold."""
    from image_deduplication_3m_images_spark.operators.similarity import (
        brute_force_topk,
        make_cosine_udf,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero vector
        (3, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = brute_force_topk(emb, emb.where("vec_id = 0"), k=2).collect()
    neighbors = {r["neighbor_id"]: r for r in out}
    assert 2 not in neighbors  # real vectors outrank the zero vector
    assert set(neighbors) == {1, 3}
    assert all(r["cosine"] is not None for r in out)
    # the Arrow kernel mirrors the expr: zero-norm pair -> SQL NULL
    cos = make_cosine_udf()
    from pyspark.sql import functions as F

    pair = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = pair.select(cos(F.col("a"), F.col("b")).alias("c")).collect()
    assert got[0]["c"] is None
    assert got[1]["c"] == 1.0
