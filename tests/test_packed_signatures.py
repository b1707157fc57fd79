"""Packed-signature layout: the signature UDF returns the 128 MinHash values
as one big-endian 1 KiB binary cell (Arrow list-conversion costs
~4us/element — measured 55 s per 100k docs for array<long>(128)); band keys
and equal-position counts are derived from that cell.  These tests pin
every derived value against the pure-Python reference
(``signature_core.signature_py``).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.functions.signature_core import signature_py
from image_deduplication_3m_images_spark.functions.signatures import (
    band_keys_from_packed_expr,
    make_packed_signature_udf,
)
from image_deduplication_3m_images_spark.operators.verify import sig_matches_packed
from image_deduplication_3m_images_spark.plans.dedupe import build_signatures
from image_deduplication_3m_images_spark.sources.pages_fixture import (
    generate_pages,
    pages_dataframe,
)

CFG = DedupConfig()


def _packed(spark, n=80):
    pages = pages_dataframe(spark, generate_pages(n_rows=n, seed=5))
    return build_signatures(pages, CFG).localCheckpoint(eager=True)


def _ref_band_keys(minhash: list[int]) -> list[int]:
    r = CFG.rows_per_band
    return [
        int(
            hashlib.md5(
                "_".join(map(str, minhash[b * r : (b + 1) * r])).encode()
            ).hexdigest()[:15],
            16,
        )
        for b in range(CFG.bands)
    ]


def test_packed_minhash_bytes_equal_array(spark):
    """Both UDF inputs (html for the pipeline/stream, text for the query
    catalog) pack exactly the reference's MinHash array, and carry the
    reference's n_shingles and simhash."""
    packed = _packed(spark)
    from_text = packed.select(
        "url", make_packed_signature_udf(CFG, from_html=False)("text").alias("s")
    ).select("url", "s.*")
    by_text = {r["url"]: r for r in from_text.collect()}
    rows = packed.collect()
    assert rows and by_text.keys() == {r["url"] for r in rows}
    for r in rows:
        ref = signature_py(r["text"], CFG)
        for got in (r, by_text[r["url"]]):
            assert got["n_shingles"] == ref["n_shingles"]
            assert got["simhash"] == ref["simhash"]
            unpacked = np.frombuffer(got["minhash_bin"], dtype=">i8").tolist()
            assert unpacked == ref["minhash"]


def test_packed_band_keys_equal_python_reference(spark):
    """The JVM band-key expression over the packed binary equals md5 of
    the '_'-joined decimal slice, first 15 hex chars (the formula the
    DuckDB oracle mirrors)."""
    rows = _packed(spark).select("text", "band_keys").collect()
    assert rows
    for r in rows:
        assert list(r["band_keys"]) == _ref_band_keys(
            signature_py(r["text"], CFG)["minhash"]
        )


def test_band_keys_expr_escapes_backticks(spark):
    """A column name containing a backtick still resolves to that column."""
    rows = (
        _packed(spark, n=20)
        .select(F.col("minhash_bin").alias("mh`bin"), "band_keys")
        .select(
            "band_keys",
            band_keys_from_packed_expr("mh`bin", CFG).alias("keys"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert list(r["keys"]) == list(r["band_keys"])


def test_packed_matches_equal_array_matches(spark):
    """The Arrow matches kernel equals a numpy equality count over the
    reference MinHash arrays on every pair of the fixture."""
    packed = _packed(spark)
    ref = {
        r["url"]: np.array(signature_py(r["text"], CFG)["minhash"])
        for r in packed.select("url", "text").collect()
    }
    pairs = (
        packed.alias("x")
        .crossJoin(packed.alias("y"))
        .where(F.col("x.url") < F.col("y.url"))
        .select(
            F.col("x.url").alias("xu"),
            F.col("y.url").alias("yu"),
            sig_matches_packed(
                F.col("x.minhash_bin"), F.col("y.minhash_bin")
            ).alias("m"),
        )
        .collect()
    )
    assert len(pairs) == len(ref) * (len(ref) - 1) // 2
    # the fixture must reach beyond the trivial 0/128 counts
    assert any(0 < r["m"] < CFG.num_perm for r in pairs)
    for r in pairs:
        assert r["m"] == int((ref[r["xu"]] == ref[r["yu"]]).sum()), r


def test_pipeline_verify_stage_single_python_boundary(spark):
    """The verify stage's only Python is the ONE batch-vectorized Arrow
    matches kernel — hamming/containment/verdict are codegen exprs, and no
    row-at-a-time BatchEvalPython ever appears.  (A zero-Python variant, 128
    binary-substring compares summed in one expression, was measured slower
    at 128 perms — pages e2e 11-13 s -> 33-67 s at 20k docs — so exactly one
    ArrowEvalPython is the intended shape.)  The pipeline's two-pass plan
    runs the kernel inside the cached pass A; the residue branch and the
    final join read that cache, so the plan around it has no Python."""
    from image_deduplication_3m_images_spark.operators.verify import verify_pairs

    pages = pages_dataframe(spark, generate_pages(n_rows=60, seed=5))
    sig = build_signatures(pages, CFG).localCheckpoint(eager=True)
    pairs = spark.createDataFrame(
        [(r1, r2) for r1, r2 in zip(*[iter(sorted(x["url"] for x in sig.select("url").collect()))] * 2)][:10],
        ["id_a", "id_b"],
    )
    release: list = []
    out = verify_pairs(
        F.broadcast(pairs), sig, CFG, id_col="url", prefilter_broadcast=True,
        release=release,
    )

    def node_names(node):
        """Physical operator names, not descending into cached relations."""
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return node_names(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return node_names(node.plan())
        kids = node.children()
        return [name] + [
            n for k in range(kids.size()) for n in node_names(kids.apply(k))
        ]

    try:
        assert len(release) == 1
        cached = release[0]._jdf.queryExecution().withCachedData()
        assert cached.getClass().getSimpleName() == "InMemoryRelation"
        pass_a = node_names(cached.cachedPlan())
        outside = node_names(out._jdf.queryExecution().executedPlan())
        assert pass_a.count("ArrowEvalPythonExec") == 1, pass_a
        assert "InMemoryTableScanExec" in outside, outside
        assert "ArrowEvalPythonExec" not in outside, outside
        assert "BatchEvalPythonExec" not in pass_a + outside
    finally:
        for df in release:
            df.unpersist(blocking=False)


def test_verify_deferred_containment_equivalent_verdicts(spark):
    """The two-pass plan (prefilter_broadcast): identical (id_a, id_b,
    sig_matches, hamming, verified) to the two-join plan, which evaluates
    containment on every pair; `containment` may be False where the
    two-join plan says True ONLY for pairs that already pass the signature
    tests (the rescue was not needed) — never the other way around."""
    from image_deduplication_3m_images_spark.operators.lsh import candidate_pairs
    from image_deduplication_3m_images_spark.operators.verify import verify_pairs

    pages = pages_dataframe(spark, generate_pages(n_rows=200, seed=7))
    sig = build_signatures(pages, CFG).localCheckpoint(eager=True)
    pairs = candidate_pairs(sig, CFG, id_col="url").select("id_a", "id_b")
    full = verify_pairs(pairs, sig, CFG, id_col="url").collect()
    defer = verify_pairs(
        F.broadcast(pairs), sig, CFG, id_col="url", prefilter_broadcast=True
    ).collect()
    fm = {(r["id_a"], r["id_b"]): r for r in full}
    dm = {(r["id_a"], r["id_b"]): r for r in defer}
    assert fm.keys() == dm.keys() and fm, f"{len(fm)} vs {len(dm)} pairs"
    # the fixture must actually exercise the rescue path
    assert any(r["containment"] and not (r["sig_matches"] >= 90 or r["hamming"] <= 3) for r in full)
    for k, f in fm.items():
        d = dm[k]
        assert (f["sig_matches"], f["hamming"], f["verified"]) == (
            d["sig_matches"], d["hamming"], d["verified"]
        ), (k, f, d)
        if f["containment"] != d["containment"]:
            # only allowed on sim-passing pairs, and only full=True/defer=False
            assert f["containment"] and not d["containment"], (k, f, d)
            assert f["sig_matches"] >= 90 or f["hamming"] <= 3, (k, f, d)
