"""Pairwise verification of LSH candidate pairs.

Reference analog: the filter-refine stages 2-4 — color verification, global
cosine refinement, local-descriptor ratio test
(``/root/reference/modules/deduplication.py:1207-1283,1460-1532``).  Webtext
mapping (SURVEY.md §2.3):

  * J3 MinHash Jaccard estimate  <- wavelet similarity (mean equal positions)
  * J4 SimHash Hamming distance  <- global-embedding cosine
  * J7 exact-substring containment <- local keypoint verification

J3 is one batch-vectorized Arrow kernel over the packed MinHash binaries;
J4 is a codegen'd column expression over the joined signatures; J7 is the
single place both texts are needed — built-in ``contains`` on the joined
texts (JVM fast path).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig


def melt_assemble(
    pairs: DataFrame, sig_df: DataFrame, id_col: str, cols
) -> DataFrame:
    """Assemble per-pair payload columns with ONE corpus scan + ONE shuffle.

    The pair list is "melted" into two rows per pair (one per member id) and
    broadcast; the corpus table is scanned ONCE, each row map-side joined
    against the melt (rows not in any pair never leave the scan), and a
    groupBy(id_a, id_b) reassembles the two sides as ``<col>_a``/``<col>_b``.

    vs the previous two-sliver shape (two full corpus scans + a sort-merge
    join of WIDE slivers): half the scanned bytes, one shuffle whose rows
    are exactly the payload-carrying pair members (hits move once, never
    the corpus), and no wide sort.  Requires the pair set to be broadcast-
    small — which LSH guarantees and the caller's byte guard enforces; the
    non-broadcast fallback is the plain two-join path in join_signatures.

    ``max(when(...))`` per side is exact: each (id_a, id_b, side) group has
    one payload row, so max just selects it — and Max is a declarative
    spill-safe aggregate for every payload type used here (binary / long /
    string / array).
    """
    m = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("_mid"),
                    F.col("id_a"),
                    F.col("id_b"),
                    F.lit(True).alias("_is_a"),
                ),
                F.struct(
                    F.col("id_b").alias("_mid"),
                    F.col("id_a"),
                    F.col("id_b"),
                    F.lit(False).alias("_is_a"),
                ),
            )
        ).alias("m")
    ).select("m.*")
    hits = sig_df.select(
        F.col(id_col).alias("_mid"), *[F.col(c) for c in cols]
    ).join(F.broadcast(m), "_mid")
    aggs = []
    for c in cols:
        aggs.append(F.max(F.when(F.col("_is_a"), F.col(c))).alias(f"{c}_a"))
        aggs.append(F.max(F.when(~F.col("_is_a"), F.col(c))).alias(f"{c}_b"))
    return hits.groupBy("id_a", "id_b").agg(*aggs)


def join_signatures(pairs: DataFrame, sig_df: DataFrame, id_col: str) -> DataFrame:
    """Attach both sides' signatures and text to (id_a, id_b) pairs with the
    plain two-join plan: both joins shuffle, fully spillable, no driver
    bottleneck — the shape that survives a pair set too big to broadcast.
    Broadcast-small pair sets go through ``melt_assemble`` instead (see
    ``verify_pairs``).
    """
    cols = ("minhash_bin", "simhash", "text")
    a = sig_df.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    b = sig_df.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(a, "id_a").join(b, "id_b")


def hamming_expr(sh_a, sh_b):
    return F.bit_count(sh_a.bitwiseXOR(sh_b))


_MATCHES_PACKED = None


def sig_matches_packed(bin_a, bin_b):
    """Equal-position count over big-endian-packed MinHash binaries.

    Arrow-batched pandas UDF — runs only on candidate PAIRS (a tiny fraction
    of the corpus), where the per-element list-conversion cost that packing
    avoids would not matter; np.frombuffer makes it allocation-free.
    """
    global _MATCHES_PACKED
    if _MATCHES_PACKED is None:

        @F.pandas_udf("int")
        def matches_udf(a: pd.Series, b: pd.Series) -> pd.Series:
            import numpy as np

            if len(a) == 0:
                return pd.Series(np.empty(0, dtype=np.int32))
            # all signatures are equal-length packed buffers: concatenate
            # into ONE (n, num_perm) view and compare the whole batch in a
            # single vectorized pass (no per-pair Python)
            xa = np.frombuffer(b"".join(a), dtype=">i8").reshape(len(a), -1)
            ya = np.frombuffer(b"".join(b), dtype=">i8").reshape(len(b), -1)
            return pd.Series((xa == ya).sum(axis=1).astype(np.int32))

        _MATCHES_PACKED = matches_udf
    return _MATCHES_PACKED(bin_a, bin_b)


def _sim_ok(cfg: DedupConfig):
    # OR-of-evidence verdict: MinHash Jaccard is the primary test; a tight
    # SimHash Hamming radius rescues near-identical docs whose MinHash was
    # unlucky; containment (added by the callers) rescues boilerplate-
    # wrapped/contained true dups.  (The reference's conjunctive stage
    # cascade over-filters light edits — its stage-2 color pass rejecting
    # true dups was a documented bug class, in the reference's
    # MEMORY_FIXES_SUMMARY.md.)
    min_matches = math.ceil(cfg.jaccard_threshold * cfg.num_perm)  # 0.7*128 -> 90
    return (F.col("sig_matches") >= F.lit(min_matches)) | (
        F.col("hamming") <= F.lit(cfg.hamming_max)
    )


def _evidence():
    """(sig_matches, hamming) over assembled ``<col>_a``/``<col>_b`` sides."""
    return [
        sig_matches_packed(F.col("minhash_bin_a"), F.col("minhash_bin_b")).alias(
            "sig_matches"
        ),
        hamming_expr(F.col("simhash_a"), F.col("simhash_b")).alias("hamming"),
    ]


def _contains():
    """containment = one text is an exact substring of the other (J7)."""
    return F.contains(F.col("text_b"), F.col("text_a")) | F.contains(
        F.col("text_a"), F.col("text_b")
    )


def verdict(assembled: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The pair verdict over assembled sides: ``minhash_bin``, ``simhash``
    and ``text`` as ``<col>_a``/``<col>_b`` (all three tests are symmetric,
    so which side is which does not matter) -> (id_a, id_b, sig_matches,
    hamming, containment, verified)."""
    out = assembled.select(
        "id_a", "id_b", *_evidence(), _contains().alias("containment")
    )
    return out.withColumn("verified", _sim_ok(cfg) | F.col("containment"))


def verify_pairs(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    prefilter_broadcast: bool = False,
    release: list | None = None,
) -> DataFrame:
    """candidate pairs -> verified pairs with evidence columns.

    ``sig_df`` carries ``minhash_bin``, ``simhash`` and ``text`` per id.

    verdict: ``verified = (jaccard_est >= t OR hamming <= h) OR containment``
    — containment rescues true dups whose extra boilerplate dilutes Jaccard
    (FIXTURES.md containment pairs), mirroring how the reference's local-
    feature stage rescued crops/edits that global cosine rejected.

    ``prefilter_broadcast``: pass True whenever the pair set is small enough
    to broadcast (the caller's byte guard decides).  Verification then runs
    in two passes (``_verify_deferred``): signatures are melt-assembled
    first, so the corpus never shuffles and text never rides the wide
    shuffle, and only the pairs failing the signature tests get a text
    assembly for the containment check.  ``verified`` is identical to the
    two-join plan; ``containment`` is then "containment where it could
    matter" (False for sim-passing pairs, whose containment was never
    evaluated).  Without the prefilter the two-join plan of
    ``join_signatures`` carries signatures and text together and fills
    ``containment`` on every pair.

    ``release``: the two-pass plan persists an intermediate frame the result
    depends on; pass a list to receive it and ``unpersist`` once the result
    is materialized/checkpointed.  Without it the cache is left to Spark's
    LRU — fine for one-shot jobs, but a long-lived driver calling this per
    micro-batch would accumulate one dead cached frame per call.
    """
    if prefilter_broadcast:
        return _verify_deferred(pairs, sig_df, cfg, id_col, release=release)
    # one join per side carrying signatures AND text together — half the
    # shuffles of separate signature/text joins
    return verdict(join_signatures(pairs, sig_df, id_col), cfg)


def _verify_deferred(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    release: list | None = None,
) -> DataFrame:
    """Two-pass verification: signatures first, text only for the residue.

    Pass A: melt-assemble (minhash_bin, simhash) — ONE narrow corpus scan,
    text never shuffles — then the signature verdict.  The narrow result
    (four scalar columns per pair) is persisted and materialized ONCE so the
    residue branch and the final join both read the cache instead of
    re-running the corpus scan.

    Pass B: pairs failing the signature tests get a text-only melt assembly
    (scans just the text column, for residue members only) and the
    containment check; a left join folds the rescue verdict back.

    The cache is a few MB per million pairs (ids + two ints); pass
    ``release`` to unpersist it once the stage is checkpointed (otherwise
    it is left to Spark's LRU — one dead frame per call on a long-lived
    driver).
    """
    assembled = melt_assemble(
        pairs.select("id_a", "id_b"), sig_df, id_col, ("minhash_bin", "simhash")
    )
    pass_a = assembled.select("id_a", "id_b", *_evidence()).withColumn(
        "_sim_ok", _sim_ok(cfg)
    ).persist()
    pass_a.count()  # materialize once, before the plan forks below
    if release is not None:
        release.append(pass_a)

    residue = pass_a.where(~F.col("_sim_ok")).select("id_a", "id_b")
    rescued = melt_assemble(residue, sig_df, id_col, ("text",)).select(
        "id_a", "id_b", _contains().alias("containment")
    )
    containment = F.coalesce("containment", F.lit(False))
    return pass_a.join(rescued, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "sig_matches",
        "hamming",
        containment.alias("containment"),
        (F.col("_sim_ok") | containment).alias("verified"),
    )
