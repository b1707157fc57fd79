"""Similarity search over an embedding column (array<float>).

Reference analog: FAISS-IVF / BallTree radius search used to build the
similarity graph for large groups (``/root/reference/modules/deduplication.py:380-452``)
and the global-cosine refinement (``1207-1254``).  Spark-first:

  * brute-force top-k: broadcast the (small) query set against the corpus —
    the corpus is never collected; dot products are codegen'd array exprs.
  * LSH-bucketed (IVF-style) variant: sign-of-random-hyperplane bucket key,
    join within bucket only — the 100 TB path (probes = multi-bucket union).

All arithmetic is float->double upcast then left-fold sum, matching the
DuckDB oracle's evaluation order exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The embeddings table: (vec_id, embedding array<float> of EMB_DIM).  Table
# t of a sign-LSH index uses hyperplanes(EMB_DIM, n_planes, PLANE_SEED + t),
# the planes the DuckDB oracle emits as literals.
EMB_DIM = 64
PLANE_SEED = 7


def _dot_expr(a, b):
    # left fold over zip_with products, double accumulation (order-stable)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_expr(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a, b):
    """Exact cosine as a column expression.  Spark evaluates higher-order
    functions INTERPRETED per element (~10 us per 64-dim cosine measured) —
    fine for per-query candidate sets (top-k), too slow for corpus-scale
    pair verification, which uses ``make_cosine_udf`` instead.  Unrolling
    the fold into a literal 64-term Add chain was built and MEASURED WORSE:
    the generated method exceeds janino's 64 KB limit with norms inline
    (hard fallback) and HotSpot's ~8 KB JIT threshold even with norms
    hoisted, so the 'codegen' form ran in the JVM bytecode interpreter at
    ~73 us/pair — 7x slower than this HOF form.

    Zero-norm guard: an all-zero embedding (padding row, dead doc) would
    give 0/0 = NaN, and Spark orders NaN ABOVE every number descending and
    evaluates NaN >= t as TRUE — a zero vector would outrank every real
    neighbor and pass near-dup thresholds.  The guard yields NULL instead:
    desc ordering puts NULL last and NULL >= t filters false, so zero
    vectors are never neighbors of anything (mirrored by NULLIF in the
    DuckDB oracles)."""
    prod = _norm_expr(a) * _norm_expr(b)
    return F.when(prod != F.lit(0.0), _dot_expr(a, b) / prod)


def make_cosine_udf():
    """Vectorized Arrow cosine for pair-verification hot paths: one numpy
    batch pass, bit-identical to ``cosine_expr`` and to the DuckDB oracle's
    ``list_sum`` (np.cumsum's last element reproduces the left fold's
    sequential accumulation order exactly — np.dot/np.sum use pairwise
    summation and round differently; same technique as
    ``make_signlsh_buckets_udf``).  Byte-equality pinned in
    tests/test_similarity.py."""

    @F.pandas_udf("double")
    def cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        dot = np.cumsum(a * b, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
        prod = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            res = dot / prod
        # zero-norm -> SQL NULL, matching cosine_expr's guard (NaN would
        # sort above every real neighbor and pass >= thresholds)
        out = pd.Series(res).astype("Float64")
        out[prod == 0.0] = pd.NA
        return out

    return cosine_udf


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — exact top-k by cosine.

    Queries are broadcast (they are the small side by construction); the
    corpus streams through map-side, so this scales with corpus size and
    never shuffles the corpus.  Self-matches are excluded.  Ties broken by
    ascending neighbor id (deterministic).
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 7) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH bucketing."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def make_signlsh_buckets_udf(tables: list):
    """Arrow UDF: embedding -> array of per-table bucket ids.

    Bit-identical to the DuckDB oracle: the dot
    product there is a LEFT FOLD over per-element float64 products, and
    ``np.cumsum``'s last element reproduces exactly that sequential
    accumulation order (unlike np.dot/np.sum, which use pairwise
    summation and round differently).  One Arrow batch pass replaces a
    codegen expression tree of n_tables * n_planes * dim literals, whose
    compile time dominated the whole query.
    """
    planes_all = np.stack(tables)  # (T, P, D) float64
    n_tables, n_planes, _dim = planes_all.shape
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def buckets_udf(emb: pd.Series) -> pd.Series:
        v = np.stack(emb.to_numpy()).astype(np.float64)  # (N, D)
        # products (N, T, P, D) would be large; loop tables (T is small)
        out = np.empty((v.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            # (N, P, D) element products, left-fold sum along D via cumsum
            prod = v[:, None, :] * planes_all[t][None, :, :]
            dots = np.cumsum(prod, axis=2)[:, :, -1]
            out[:, t] = ((dots >= 0) @ weights).astype(np.int64)
        return pd.Series(list(out))

    return buckets_udf


def signlsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 8,
    cache_buckets: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (id_a < id_b, cosine >= threshold)
    via multi-table sign-LSH self-join — the dedup-shaped sibling of
    ``signlsh_topk`` (reference analog: the cosine similarity graph of
    ``/root/reference/modules/deduplication.py:1207-1254``, built there by
    brute-force matrix products per group).

    Scale shape: the bucket self-join carries ONLY (id, tab, bucket) — 24-byte
    rows, never the vectors (carrying 64-float vectors through the collision
    shuffle was measured 2-5x slower at sf0.1 and widens every exchange ~20x
    at any scale).  Collisions dedup to distinct (id_a, id_b) BEFORE cosine,
    so a pair colliding in k tables pays one cosine, not k (~22% fewer evals
    on this fixture; up to n_tables-fold on a true near-dup corpus, where
    close pairs collide in most tables).  Vectors join back onto the deduped
    pairs afterwards — the corpus side is a plain columnar scan (broadcast
    when small, AQE-planned shuffle join on id at 100 TB).  Bucket ids come
    from one Arrow UDF pass per join side (a self-join evaluates its input
    subtree twice; a 100 TB run checkpoints the bucketed projection first,
    as the minhash pipeline does for its signatures); hot buckets fall to
    AQE's skew-join split, and the sort-merge path spills instead of OOMing.
    Cosine is one vectorized Arrow batch pass over the deduped pairs
    (``make_cosine_udf`` — bit-identical to the column-expression form).

    Recall: P(bit) = 1 - theta/pi, per-table p**n_planes, union over
    n_tables; at this default (4 bits x 8 tables) a cosine-0.4 pair collides
    with prob ~0.75, a cosine-0.9 pair with prob ~0.999.  Both sides of the
    oracle evaluate the IDENTICAL literal-hyperplane buckets, so the
    correctness check is exact even though recall is approximate.
    """
    tables = [hyperplanes(EMB_DIM, n_planes, PLANE_SEED + t) for t in range(n_tables)]
    budf = make_signlsh_buckets_udf(tables)
    # posexplode applied DIRECTLY to the UDF call: materializing the UDF
    # column first (withColumn) lets CollapseProject duplicate the UDF into
    # two stacked ArrowEvalPython nodes — every row would pay the kernel
    # twice (plan-tested in tests/test_plans.py)
    c = corpus.select(
        F.col("vec_id").alias("id"),
        F.posexplode(budf("embedding")).alias("tab", "bucket"),
    )
    if cache_buckets:
        # a self-join evaluates its input subtree once PER SIDE, so without
        # this the bucket kernel runs twice over the corpus.  Opt-in: the
        # cached frame is 3 narrow columns x n_tables rows per vector, but
        # a long-lived driver calling this per micro-batch would accumulate
        # one cached frame per call — callers that reuse the RESULT (e.g.
        # the session-memoized catalog entry) pass True; a 100 TB run
        # checkpoints this projection instead (see docstring).
        c = c.cache()
    a = c.select(F.col("id").alias("id_a"), "tab", "bucket")
    b = c.select(F.col("id").alias("id_b"), "tab", "bucket")
    pairs = (
        a.join(b, ["tab", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # cosine on the deduped pairs is the hot verification loop — one numpy
    # Arrow batch pass (see make_cosine_udf for why both JVM expression
    # forms measured slower here).  asNondeterministic: the function is
    # pure, but without it PushPredicateThroughNonJoin substitutes the
    # threshold filter below the projection and the kernel runs TWICE per
    # pair (plan-tested: exactly one cosine ArrowEvalPython node)
    cos_udf = make_cosine_udf().asNondeterministic()
    v = corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    return (
        pairs.join(
            v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a"
        )
        .join(
            v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b"
        )
        .select("id_a", "id_b", cos_udf("vec_a", "vec_b").alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def signlsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """LSH-bucketed approximate top-k: standard multi-table sign-LSH
    (``n_tables`` independent tables of ``n_planes`` bits each, candidate =
    bucket collision in ANY table) with Hamming-1 multiprobe (the query
    additionally probes every bucket reachable by flipping one sign bit).
    Exact cosine + window top-k within the candidate union.

    Recall/cost tuning — P(bit match) = 1 - theta/pi, so per-table collision
    is p**b: size ``n_planes`` to the workload's neighbor similarity (near-
    duplicate cosine>=0.9 -> b=8-16 and 1-2 tables suffice; moderate-
    similarity kNN needs smaller b + more tables) and ``n_tables`` to the
    recall target 1-(1-p_table)**L.  Candidate fraction per query ~=
    L * probes / 2**b of the corpus.

    Scale shape: the corpus is scanned ONCE map-side (all per-table buckets
    come from a single Arrow UDF pass, posexploded; no re-scan per table)
    and NEVER shuffled —
    the (small) query probe set is broadcast, so candidates are produced by
    a map-side broadcast hash join; only matched candidates flow into the
    top-k window.  Cross-table duplicate candidates are collapsed by a
    distinct on the (tiny) scored pairs.
    """
    tables = [hyperplanes(EMB_DIM, n_planes, PLANE_SEED + t) for t in range(n_tables)]
    budf = make_signlsh_buckets_udf(tables)
    # posexplode DIRECTLY over the UDF call — a separate withColumn lets
    # CollapseProject duplicate the UDF into two stacked ArrowEvalPython
    # nodes (double kernel cost per row); this shape plans exactly one
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.posexplode(budf("embedding")).alias("tab", "bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.posexplode(budf("embedding")).alias("tab", "bucket"),
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    q = F.broadcast(
        q.select("query_id", "q_vec", "tab", F.explode(probes).alias("bucket"))
    )
    scored = (
        c.join(q, ["tab", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
