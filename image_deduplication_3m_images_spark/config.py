"""Pinned dedup configuration — the single source of truth for every signature.

The reference pins its thresholds/params as module constants
(``/root/reference/modules/deduplication.py:32-47``: wavelet_threshold=0.8,
num_bands=2, band_size=16, …) and its recall depends on every stage using the
same config.  We do the same with a frozen dataclass plus a ``config_hash()``
that is written to every lineage row, so a resume against a different config
is refused (reference analog: the progress file silently accepted config
drift — a bug we do not reproduce).

MinHash permutations are the affine family ``(a_j * h + b_j) mod P`` over a
32-bit shingle hash ``h`` (first 8 hex chars of md5 of the shingle string).
All values fit in a signed 64-bit integer::

    max(a) * max(h) + max(b)  <  2**63 - 1

which keeps the exact same arithmetic expressible in

  * the vectorized NumPy pandas UDF (production path),
  * pure Python (unit-test oracle),
  * ANSI SQL on DuckDB (the driver's correctness oracle),

so signatures are bit-identical across all three — the webtext analog of the
reference's per-row invariant ("0 missing images", ``/root/reference/main.py:96-101``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field

import numpy as np

# Prime modulus for MinHash permutations: smallest prime > 2**32.
MINHASH_PRIME = 4294967311
# Permutation seed — pinned forever; changing it changes every signature.
PERM_SEED = 20250816


def _make_permutations(num_perm: int, seed: int) -> tuple[tuple[int, ...], tuple[int, ...]]:
    rng = np.random.RandomState(seed)
    # a in [1, 2**31 - 1] keeps a*h < 2**63 for 32-bit h; b in [0, P-1].
    a = rng.randint(1, 2**31 - 1, size=num_perm, dtype=np.int64)
    b = rng.randint(0, MINHASH_PRIME, size=num_perm, dtype=np.int64)
    return tuple(int(x) for x in a), tuple(int(x) for x in b)


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the near-duplicate pipeline (north-rule config:
    5-gram shingles, 128-perm MinHash, LSH 16 bands x 8 rows, 64-bit SimHash).
    """

    shingle_k: int = 5
    num_perm: int = 128
    bands: int = 16
    rows_per_band: int = 8
    simhash_bits: int = 64
    # Verification thresholds (reference analog: wavelet_threshold=0.8,
    # global_threshold=0.85 — /root/reference/modules/deduplication.py:32-47).
    # 0.7 ~ the 16x8 LSH S-curve midpoint ((1/16)**(1/8) = 0.707): the banding
    # detects what verification accepts — a self-consistent operating point.
    jaccard_threshold: float = 0.7      # estimated Jaccard (matching sig fraction)
    hamming_max: int = 3                # SimHash rescue radius (OR-evidence, tight)
    # Skew handling: band buckets larger than this emit star edges to the
    # bucket representative instead of all O(n^2) pairs (reference analog:
    # bucket cap 1000 / pair cap 50k, deduplication.py:307-326 — but theirs
    # silently DROPS pairs; star edges preserve connectivity).
    bucket_star_cap: int = 64
    # Salted-key tier: buckets in (cap, cap*salt_factor] are joined within
    # deterministic salt sub-buckets (plus star edges for cross-salt
    # connectivity); buckets beyond that are star-edged only.
    salt_factor: int = 8
    # Opt-in input hygiene: canonicalize urls (lowercase, strip scheme /
    # www. / query / trailing slash) and keep ONE page per canonical url
    # before signing — the URL-identity dedup web corpora run before any
    # content hashing.  Off by default: it costs one extra corpus exchange,
    # and it CHANGES the identity column (the report's urls become
    # canonical), so the config hash must gate resume across the flip.
    canonicalize_urls: bool = False
    perm_seed: int = PERM_SEED

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("bands * rows_per_band must equal num_perm")
        # the SimHash kernel is 64-bit; the oracle reads this field, so any
        # other width would split engine from oracle
        if self.simhash_bits != 64:
            raise ValueError("simhash_bits must be 64")

    @property
    def perm_a(self) -> tuple[int, ...]:
        return _PERM_CACHE(self.num_perm, self.perm_seed)[0]

    @property
    def perm_b(self) -> tuple[int, ...]:
        return _PERM_CACHE(self.num_perm, self.perm_seed)[1]

    def config_hash(self) -> str:
        """Stable hash of every signature-affecting knob (goes in lineage rows)."""
        from image_deduplication_3m_images_spark.functions.signature_core import (
            HORNER_C,
        )

        payload = asdict(self)
        payload["prime"] = MINHASH_PRIME
        payload["horner_c"] = HORNER_C
        payload["token_hash"] = "md5-16hex-horner"
        # checkpoint-table schema version: bumped when stage table shapes
        # change (e.g. sid surrogate ids), so resume against a warehouse
        # written by an incompatible pipeline version is refused
        payload["stage_schema"] = "sid-v2"
        blob = json.dumps(payload, sort_keys=True).encode("utf-8")
        return hashlib.sha256(blob).hexdigest()[:16]


class _PermMemo:
    def __init__(self) -> None:
        self._memo: dict[tuple[int, int], tuple[tuple[int, ...], tuple[int, ...]]] = {}

    def __call__(self, num_perm: int, seed: int):
        key = (num_perm, seed)
        if key not in self._memo:
            self._memo[key] = _make_permutations(num_perm, seed)
        return self._memo[key]


_PERM_CACHE = _PermMemo()
