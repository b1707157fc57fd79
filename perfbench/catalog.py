"""The query catalog sweep: all ``plans.queries.ALL_QUERIES`` over a
generated catalog, checked against the DuckDB oracles.

The catalog is fixed (like the package's own test data) and generated once
per checkout under ``.bench_build/perfbench/``, together with the oracle's
result fingerprints: ``oracle.json`` holds, per query, the column names,
canonical column types, row count and order-insensitive value hash that
``tools/parity_check.py`` computes.  Building it takes ~40 s of DuckDB
(the recursive connected-component CTEs dominate), paid once, by the first
run that finds it missing, after that run's measurements.  The cache is
keyed by a hash of the oracle SQL, and the tables' digest is checked on
every use.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import time

import gen

PKG = "image_deduplication_3m_images_spark"
CATALOG_SEED = 42
# ``ALL_QUERIES`` by name; the per-layer metrics name these (``q.<name>_s``)
QUERIES = (
    "event_windows", "pricing_summary", "top_nations", "lang_stats",
    "signature_digest", "token_stats", "quality", "langid", "fingerprint",
    "exact_dedup", "repetition_stats", "boilerplate_ngrams", "lsh_bands",
    "candidate_pairs", "verified_pairs", "containment_pairs", "dup_clusters",
    "best_pick", "group_stats", "simhash_pairs", "ngram_jaccard",
    "embedding_topk", "embedding_topk_lsh", "embedding_neardup",
    "image_features", "media_dedup", "frame_samples", "group_avg_sim",
    "brand_revenue", "no_f_customers", "user_sessions", "test_path_flags",
    "url_dedup", "pii_stats", "length_quantiles", "doc_packing",
    "stratified_sample", "contamination", "semantic_clusters",
    "quality_funnel", "incremental_new_docs", "domain_stats",
    "domain_capped", "domain_topk", "substring_pairs", "dup_span_stats",
    "span_cleaned_digest", "substring_clusters",
)
# The catalog is swept in two halves, one in the traced runs of each
# workload, so that no run grows past a few minutes.  batch_crawl sweeps the
# queries built on signatures, LSH, verification, clustering and vector
# similarity (the layers batch_crawl itself measures); stream_ingest sweeps
# the rest: relational queries, document scans, exact and substring dedup.
BATCH_QUERIES = (
    "signature_digest", "lsh_bands", "candidate_pairs", "verified_pairs",
    "containment_pairs", "dup_clusters", "best_pick", "group_stats",
    "group_avg_sim", "simhash_pairs", "ngram_jaccard", "embedding_topk",
    "embedding_topk_lsh", "embedding_neardup", "semantic_clusters",
    "image_features", "media_dedup", "frame_samples",
)
STREAM_QUERIES = tuple(q for q in QUERIES if q not in BATCH_QUERIES)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _parity(root: str):
    """``tools/parity_check.py`` of the checkout, imported read-only."""
    path = os.path.join(root, "tools", "parity_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_sql() -> dict[str, str]:
    return importlib.import_module(f"{PKG}.oracles").oracle_sql_map()


def cache_dir(root: str) -> str:
    key = hashlib.sha256(json.dumps(_oracle_sql(), sort_keys=True).encode())
    return os.path.join(root, ".bench_build", "perfbench",
                        f"catalog-{CATALOG_SEED}-{key.hexdigest()[:12]}")


def _build(root: str, out: str) -> None:
    import duckdb

    parity = _parity(root)
    tables = os.path.join(out, "tables")
    rows = gen.write_catalog(tables, CATALOG_SEED)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    expect = {}
    for name, sql in _oracle_sql().items():
        try:
            tbl = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # recorded; that query then cannot match
            expect[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            continue
        cols = tbl.column_names
        expect[name] = {
            "cols": sorted(cols),
            "types": {f.name: parity.canon_arrow_type(f.type) for f in tbl.schema},
            "rows": tbl.num_rows,
            "hash": parity.table_hash(cols, [[r[c] for c in cols]
                                             for r in tbl.to_pylist()]),
        }
    con.close()
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump({"digest": gen.digest(tables), "tables": rows,
                   "queries": expect}, f, indent=1, sort_keys=True)


def ensure(root: str) -> tuple[str, dict]:
    """The catalog's table directory and its oracle fingerprints, built
    if missing or if the tables no longer match their digest."""
    d = cache_dir(root)
    path = os.path.join(d, "oracle.json")
    if os.path.isfile(path):
        with open(path) as f:
            oracle = json.load(f)
        if gen.digest(os.path.join(d, "tables")) == oracle["digest"]:
            return os.path.join(d, "tables"), oracle
        shutil.rmtree(d)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _build(root, tmp)
        os.rename(tmp, d)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return ensure(root)


def sweep(spark, tracer, root: str, names: tuple[str, ...]) -> dict:
    """One cold sweep of the queries ``names``: reset the catalog memo and
    Spark's cache, then run each query in catalog order, collecting its
    result as the sink, inside a tracer span ``q.<name>``.  Returns
    per-query walls and the share of queries whose result matches the
    oracle."""
    queries = importlib.import_module(f"{PKG}.plans.queries")
    parity = _parity(root)
    tables, oracle = ensure(root)
    queries._MEMO.clear()
    spark.catalog.clearCache()
    walls, results = {}, {}
    t0 = time.perf_counter()
    with tracer.span("catalog"):
        for name, fn in queries.ALL_QUERIES.items():
            if name not in names:
                continue
            t = time.perf_counter()
            with tracer.span(f"q.{name}"):
                sdf = fn(spark, tables)
                rows = sdf.collect()
            walls[name] = time.perf_counter() - t
            results[name] = (sdf, rows)
    sweep_s = time.perf_counter() - t0
    cached = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached_mb = sum(r.memSize() + r.diskSize() for r in cached) / 2**20

    mismatched = [n for n in names if n not in results]  # no longer in the catalog
    for name, (sdf, rows) in results.items():
        want = oracle["queries"].get(name, {"error": "no oracle"})
        cols = sdf.columns
        ok = (
            "error" not in want
            and sorted(cols) == want["cols"]
            and all(parity.canon_spark_type(t) == want["types"].get(c)
                    for c, t in sdf.dtypes)
            and len(rows) == want["rows"]
            and parity.table_hash(cols, [[r[c] for c in cols] for r in rows])
            == want["hash"]
        )
        if not ok:
            mismatched.append(name)
    queries._MEMO.clear()
    spark.catalog.clearCache()
    return {"walls": walls, "sweep_s": sweep_s, "cached_mb": cached_mb,
            "queries": len(results), "mismatched": mismatched,
            "oracle_match": 1 - len(mismatched) / len(names),
            "digest": oracle["digest"]}
