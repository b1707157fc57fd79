"""Signature determinism + degenerate-input tests (FIXTURES.md §4-5).

Mirrors the reference's operator unit tests (identical inputs -> similarity
1.0, invalid input -> defined fallback, ``/root/reference/tests/test_color_features.py:37-52``).
"""

from __future__ import annotations

import pytest

from image_deduplication_3m_images_spark.config import MINHASH_PRIME, DedupConfig
from image_deduplication_3m_images_spark.functions.signature_core import (
    hamming64,
    jaccard_est,
    shingles,
    signature_py,
)

CFG = DedupConfig()


def test_config_invariants():
    assert CFG.bands * CFG.rows_per_band == CFG.num_perm
    # overflow proof: max(a)*max(h32)+max(b) < 2**63
    assert max(CFG.perm_a) * (2**32 - 1) + max(CFG.perm_b) < 2**63
    assert min(CFG.perm_a) >= 1
    assert MINHASH_PRIME > 2**32
    assert len(CFG.perm_a) == 128 == len(CFG.perm_b)


def test_config_rejects_widths_the_kernels_do_not_compute():
    # the SimHash kernel is 64-bit and the oracle reads simhash_bits: any
    # other width would silently split engine from oracle
    with pytest.raises(ValueError, match="simhash_bits"):
        DedupConfig(simhash_bits=32)
    with pytest.raises(ValueError, match="num_perm"):
        DedupConfig(bands=8)


def test_config_hash_changes_with_knobs():
    assert DedupConfig().config_hash() == DedupConfig().config_hash()
    assert DedupConfig().config_hash() != DedupConfig(shingle_k=7).config_hash()
    assert (
        DedupConfig().config_hash()
        != DedupConfig(perm_seed=1).config_hash()
    )


def test_shingles_basic():
    text = "a b c d e f g"
    assert shingles(text, 5) == ["a b c d e", "b c d e f", "c d e f g"]


def test_shingles_degenerate_never_raise():
    assert shingles("", 5) == [""]
    assert shingles("one two", 5) == ["one two"]
    assert shingles("   ", 5) == [""]
    sig = signature_py("", CFG)
    assert sig["n_shingles"] == 1
    assert len(sig["minhash"]) == 128


def test_identical_text_identical_signature():
    t = "the quick brown fox jumps over the lazy dog again and again"
    s1, s2 = signature_py(t, CFG), signature_py(t, CFG)
    assert s1 == s2
    assert jaccard_est(s1["minhash"], s2["minhash"]) == 1.0
    assert hamming64(s1["simhash"], s2["simhash"]) == 0


def test_one_token_edit_high_jaccard():
    base = " ".join(f"tok{i}" for i in range(40))
    edited = " ".join(("XXX" if i == 20 else f"tok{i}") for i in range(40))
    sa, sb = signature_py(base, CFG), signature_py(edited, CFG)
    est = jaccard_est(sa["minhash"], sb["minhash"])
    # true shingle jaccard: 36 shingles, 5 changed -> 31/41 = 0.756
    assert est == pytest.approx(31 / 41, abs=0.12)
    # SimHash is noisy on short docs (36 shingles): observational bound only
    assert hamming64(sa["simhash"], sb["simhash"]) <= 20


def test_disjoint_texts_low_similarity():
    a = " ".join(f"aa{i}" for i in range(50))
    b = " ".join(f"bb{i}" for i in range(50))
    sa, sb = signature_py(a, CFG), signature_py(b, CFG)
    assert jaccard_est(sa["minhash"], sb["minhash"]) < 0.15
    assert hamming64(sa["simhash"], sb["simhash"]) > 10


def test_signature_within_value_ranges():
    sig = signature_py("hello world one two three four five six", CFG)
    assert all(0 <= v < MINHASH_PRIME for v in sig["minhash"])
    assert -(2**63) <= sig["simhash"] < 2**63
