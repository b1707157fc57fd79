"""Pairwise verification of LSH candidate pairs.

Reference analog: the filter-refine stages 2-4 — color verification, global
cosine refinement, local-descriptor ratio test
(``/root/reference/modules/deduplication.py:1207-1283,1460-1532``).  Webtext
mapping (SURVEY.md §2.3):

  * J3 MinHash Jaccard estimate  <- wavelet similarity (mean equal positions)
  * J4 SimHash Hamming distance  <- global-embedding cosine
  * J7 exact-substring containment <- local keypoint verification

Every caller that holds a pair set verifies it with one plan,
``verdict(join_signatures(...))``: one join per pair side attaches the
signatures and text, and Spark picks broadcast or sort-merge for each join
from the inputs' size statistics (parquet footers, AQE runtime stats).  J3
is one batch-vectorized Arrow kernel over the packed MinHash binaries; J4
is a codegen'd column expression over the joined signatures; J7 is the
single place both texts are needed — built-in ``contains`` on the joined
texts (JVM fast path), evaluated on every pair.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig


def join_signatures(pairs: DataFrame, sig_df: DataFrame, id_col: str) -> DataFrame:
    """Attach both sides' signatures and text to (id_a, id_b) pairs: one
    join per side, carrying signatures AND text together.  No join strategy
    is forced — Spark broadcasts a side its size statistics show small and
    sort-merges (spillable, no driver bottleneck) one they do not."""
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
    # unlucky; containment (ORed in by ``verdict``) rescues boilerplate-
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
    pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """candidate pairs -> (id_a, id_b, sig_matches, hamming, containment,
    verified); ``sig_df`` carries ``minhash_bin``, ``simhash`` and ``text``
    per ``id_col``.

    verdict: ``verified = (jaccard_est >= t OR hamming <= h) OR containment``
    — containment rescues true dups whose extra boilerplate dilutes Jaccard
    (FIXTURES.md containment pairs), mirroring how the reference's local-
    feature stage rescued crops/edits that global cosine rejected.
    ``containment`` is evaluated on every pair.
    """
    return verdict(join_signatures(pairs, sig_df, id_col), cfg)
