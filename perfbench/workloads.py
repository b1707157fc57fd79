"""The benchmark's workloads.  Each takes the ``Run`` and returns
``(end_to_end, per_layer)`` dicts of ``name -> (value, unit)``.

Only the package's public functions are called; the tracer wraps them
where their callers look them up (module attributes, catalog methods).
"""

from __future__ import annotations

import importlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import catalog
import gen
from tracing import median

PKG = "image_deduplication_3m_images_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CRAWL_PAGES = 6000
STREAM_SEED = 1000
STREAM_BATCH = 1000
# In a fresh JVM the first op is 30-60 % slower than later ones, whatever
# its input size, so it is discarded: batch_crawl's is a run on a smaller
# crawl of the same shape (both templates: the same skew tiers), and
# stream_ingest's is the seed ingest.
WARMUP_PAGES = 1000
# each timed batch pushes clusters_delta past this: one compaction per op
STREAM_COMPACT_ROWS = STREAM_SEED + STREAM_BATCH // 2


# Every traced run prints every per-layer metric; a layer a workload does
# not reach reads 0.
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "calibration_s": "s",
    "host.steal_frac": "frac", "process.peak_rss_mb": "MB",
    "signatures.wall_s": "s", "signatures.exec_cpu_s": "s",
    "signatures.py_cpu_s": "s",
    "signatures.gc_s": "s", "signatures.docs_per_cpu_s": "docs/s",
    "lsh.probe_s": "s", "lsh.wall_s": "s", "lsh.shuffle_write_mb": "MB",
    "lsh.candidate_pairs": "count", "lsh.hot_detected": "bool",
    "lsh.task_skew": "ratio",
    "verify.wall_s": "s", "verify.shuffle_mb": "MB",
    "verify.pairs_verified": "count", "verify.yield": "frac",
    "cluster.cc_s": "s", "report.wall_s": "s", "report.shuffle_mb": "MB",
    "checkpoint.append_s": "s", "checkpoint.meta_s": "s",
    "checkpoint.files": "count", "checkpoint.bytes_mb": "MB",
    "ingest.read_clusters_s": "s", "ingest.compactions": "count",
    "ingest.compact_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.py_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.failed_tasks": "count", "spark.driver_idle_s": "s",
    "quality.template_recall": "frac", "quality.containment_recall": "frac",
    "catalog.sweep_s": "s", "catalog.cached_mb": "MB",
    "catalog.oracle_match": "frac", "catalog.jobs": "count",
    "catalog.driver_idle_s": "s",
    **{f"q.{name}_s": "s" for name in catalog.QUERIES},
    "trace.op_p50_s": "s", "trace.harvest_s": "s",
}


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


# --------------------------------------------------------------------------
# correctness against planted truth
# --------------------------------------------------------------------------


def _pairs(sizes: pd.Series) -> int:
    s = sizes.to_numpy(dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def _planted_hit(m: pd.DataFrame) -> tuple[int, int]:
    """(planted pairs, planted pairs inside one predicted cluster)."""
    return (_pairs(m.groupby("group").size()),
            _pairs(m.groupby(["group", "cluster_id"]).size()))


def cluster_quality(pred: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Pair-level quality of ``pred`` (url, cluster_id) against ``truth``
    (url, group, hardneg).  A planted pair is two pages of one truth group;
    a predicted pair is two pages of one predicted cluster.

    ``recall`` covers every planted pair, as the package's own recall gate
    counts them.  The templated clusters hold almost all of those (a
    900-page template alone has 404,550), so ``small_group_recall`` and
    ``precision`` leave out the pairs inside one template, and
    ``template_recall`` covers those alone.  A page merged into a template
    cluster still costs precision (it forms pairs with every template
    page).  ``family_recall`` splits recall by planted family."""
    m = truth.merge(pred, on="url", how="left")
    missing = int(m["cluster_id"].isna().sum())
    m["cluster_id"] = m["cluster_id"].fillna(m["url"])
    family = m["group"].str.replace(r"[\d_]+$", "", regex=True)
    tmpl = family.isin(gen.TEMPLATES)
    planted, hit = _planted_hit(m)
    t_planted, t_hit = _planted_hit(m[tmpl])
    predicted = _pairs(m.groupby("cluster_id").size())
    fam = {}
    for name, part in m.groupby(family):
        p, h = _planted_hit(part)
        if p:
            fam[name] = round(h / p, 4)
    size = m.groupby("cluster_id")["url"].transform("size")
    return {
        "recall": _ratio(hit, planted),
        "small_group_recall": _ratio(hit - t_hit, planted - t_planted),
        "precision": _ratio(hit - t_hit, predicted - t_hit),
        "template_recall": _ratio(t_hit, t_planted),
        "family_recall": fam,
        "hardneg_merged": int((m["hardneg"] & (size > 1)).sum()),
        "missing": missing,
    }


def _ratio(num: int, den: int) -> float:
    return num / den if den else 1.0


def quality_failures(q: dict) -> list[str]:
    """The gates a run's output must pass:

    * pair recall over every planted pair >= 0.99 (the package's own gate),
      and inside the templated clusters alone;
    * every exact copy clustered: identical texts have identical
      signatures, so LSH cannot miss them;
    * no hard negative merged, no page missing.

    ``small_group_recall`` is not gated at 0.99: the program reaches only
    0.96-0.99 there, mostly through containment pairs its banding rarely
    makes candidates (see README); its bound catches a regression."""
    out = [f"{key} {q[key]:.4f} < 0.99"
           for key in ("recall", "template_recall") if q[key] < 0.99]
    if q["family_recall"].get("exact", 1.0) < 1.0:
        out.append(f"exact-copy recall {q['family_recall']['exact']} < 1")
    if q["hardneg_merged"] or q["missing"]:
        out.append(f"{q['hardneg_merged']} hard negatives merged, "
                   f"{q['missing']} pages missing")
    return out


def _check_quality(run, q: dict, where: str) -> None:
    run.detail.setdefault("family_recall", []).append(q["family_recall"])
    for why in quality_failures(q):
        run.fail(f"{where}: {why}")


def _fold(qs: list[dict]) -> tuple[dict, dict]:
    """Quality over the timed ops (the worst op counts): the end-to-end
    recalls and precision, and the per-layer template and containment
    recall."""
    worst = {k: min(q[k] for q in qs)
             for k in ("recall", "small_group_recall", "precision", "template_recall")}
    contain = min(q["family_recall"].get("contain", 1.0) for q in qs)
    return ({k: (worst[k], "frac")
             for k in ("recall", "small_group_recall", "precision")},
            {"quality.template_recall": (worst["template_recall"], "frac"),
             "quality.containment_recall": (contain, "frac")})


def check_batch_tables(wh: str, pred: pd.DataFrame) -> list[str]:
    """Checks of ``run_dedupe``'s own tables that hold whatever the LSH
    statistics: every pair ``verified_pairs`` accepts lands in one report
    cluster (connected components + report), and no pair it rejects has
    one text contained in the other (verify's containment rescue)."""
    sig = pq.ParquetDataset(os.path.join(wh, "signatures")).read(
        ["sid", "url", "text"]).to_pandas().set_index("sid")
    vp = pq.ParquetDataset(os.path.join(wh, "verified_pairs")).read(
        ["id_a", "id_b", "verified"]).to_pandas()
    cluster = sig["url"].map(pred.set_index("url")["cluster_id"])
    ok = vp[vp["verified"]]
    split = int((cluster.loc[ok["id_a"]].to_numpy()
                 != cluster.loc[ok["id_b"]].to_numpy()).sum())
    text = sig["text"]
    rejected = vp[~vp["verified"]]
    contained = sum(a in b or b in a for a, b in zip(
        text.loc[rejected["id_a"]], text.loc[rejected["id_b"]]))
    out = []
    if split:
        out.append(f"{split} verified pairs split across clusters")
    if contained:
        out.append(f"{contained} rejected pairs have one text inside the other")
    return out


# --------------------------------------------------------------------------
# tracing hooks
# --------------------------------------------------------------------------


def _patch_catalog(tracer, table_layer: dict[str, str]) -> None:
    """Wrap the checkpoint catalog: writes are attributed to the pipeline
    stage that owns the table, appends and metadata calls to the catalog."""
    cls = _mod("sources.checkpoint").ParquetCatalog
    tracer.patch(cls, "write", lambda _self, _df, table, *a, **kw:
                 table_layer.get(table, "checkpoint.write"))
    tracer.patch(cls, "append", "checkpoint.append")
    for meta in ("log_lineage", "log_lineage_for_table", "log_event",
                 "row_count", "stage_complete"):
        tracer.patch(cls, meta, "checkpoint.meta")


def _dir_stats(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / 2**20


def _spark_layers(runs: list[dict]) -> dict:
    out = {}
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                    ("failed_tasks", "count"), ("driver_idle_s", "s")):
        out[f"spark.{k}"] = (median([r["total"].get(k, 0.0) for r in runs]), unit)
    out["spark.py_cpu_s"] = (median([r["layer_py_cpu_s"].get("op", 0.0)
                                     for r in runs]), "s")
    return out


def _layer(runs: list[dict], layer: str, key: str) -> float:
    return median([r["layers"].get(layer, {}).get(key, 0.0) for r in runs])


def _span(runs: list[dict], layer: str) -> float:
    return median([r["layer_s"].get(layer, 0.0) for r in runs])


# --------------------------------------------------------------------------
# batch_crawl
# --------------------------------------------------------------------------


def batch_crawl(run):
    """One op: ``run_dedupe(resume=False)`` into a fresh warehouse over the
    pre-staged crawl snapshot, plus a noop write of the report."""
    dedupe = _mod("plans.dedupe")
    root = os.path.join(run.work, "inputs")
    counts = gen.write_crawl(root, run.seed, CRAWL_PAGES)
    run.detail["input_digest"] = gen.digest(root)
    run.detail["truth"] = counts
    warm_root = os.path.join(run.work, "warmup")
    gen.write_crawl(warm_root, run.seed + 1, WARMUP_PAGES)
    inputs = {
        timed: (run.spark.read.parquet(os.path.join(d, "pages")),
                pd.read_parquet(os.path.join(d, "truth.parquet")))
        for timed, d in ((True, root), (False, warm_root))
    }
    n_docs = counts["pages"]

    tracer = run.tracer
    _patch_catalog(tracer, {"signatures": "signatures", "candidate_pairs": "lsh",
                            "verified_pairs": "verify", "report": "report"})
    tracer.patch(dedupe, "hot_bucket_probe", "lsh.probe", keep_result=True)
    tracer.patch(dedupe, "connected_components", "cluster.cc")
    qualities = []

    def op(i: int, timed: bool) -> None:
        pages, truth = inputs[timed]
        wh = os.path.join(run.work, f"wh{i}")
        os.makedirs(wh)
        with run.clock(), tracer.span("op"):
            report = dedupe.run_dedupe(run.spark, pages, wh, resume=False)
            report.write.format("noop").mode("overwrite").save()
        if timed:
            pred = report.select("url", "cluster_id").toPandas()
            q = cluster_quality(pred, truth)
            _check_quality(run, q, f"op {i}")
            for why in check_batch_tables(wh, pred):
                run.fail(f"op {i}: {why}")
            qualities.append(q)
            if tracer.enabled:
                tracer.values["candidate_pairs"] = pq.ParquetDataset(
                    os.path.join(wh, "candidate_pairs")).read(["id_a"]).num_rows
                tracer.values["pairs_verified"] = int(pq.ParquetDataset(
                    os.path.join(wh, "verified_pairs")).read(["verified"])
                    ["verified"].to_numpy().sum())
                tracer.values["checkpoint"] = _dir_stats(wh)
        shutil.rmtree(wh)

    run.loop(op, warmups=1)
    e2e, layers = _fold(qualities) if qualities else ({}, {})
    if run.walls:
        e2e["docs_per_s"] = (n_docs * len(run.walls) / sum(run.walls), "docs/s")
    if run.layer_runs:
        r = run.layer_runs
        vals = [h["values"] for h in r]
        cands = median([v["candidate_pairs"] for v in vals])
        verified = median([v["pairs_verified"] for v in vals])
        # the stage's CPU: JVM task threads plus the Python UDF workers
        sig_py = median([h["layer_py_cpu_s"].get("signatures", 0.0) for h in r])
        sig_cpu = _layer(r, "signatures", "exec_cpu_s") + sig_py
        layers.update({
            "signatures.wall_s": (_span(r, "signatures"), "s"),
            "signatures.exec_cpu_s": (sig_cpu, "s"),
            "signatures.py_cpu_s": (sig_py, "s"),
            "signatures.gc_s": (_layer(r, "signatures", "gc_s"), "s"),
            "signatures.docs_per_cpu_s": (n_docs / sig_cpu if sig_cpu else 0.0, "docs/s"),
            "lsh.probe_s": (_span(r, "lsh.probe"), "s"),
            "lsh.wall_s": (_span(r, "lsh"), "s"),
            "lsh.shuffle_write_mb": (_layer(r, "lsh", "shuffle_write_mb"), "MB"),
            "lsh.candidate_pairs": (cands, "count"),
            "lsh.hot_detected": (median([float(v["lsh.probe"]["hot_detected"])
                                         for v in vals]), "bool"),
            "lsh.task_skew": (_layer(r, "lsh", "task_skew"), "ratio"),
            "verify.wall_s": (_span(r, "verify"), "s"),
            "verify.shuffle_mb": (_layer(r, "verify", "shuffle_write_mb"), "MB"),
            "verify.pairs_verified": (verified, "count"),
            "verify.yield": (verified / cands if cands else 0.0, "frac"),
            "cluster.cc_s": (_span(r, "cluster.cc"), "s"),
            "report.wall_s": (_span(r, "report"), "s"),
            "report.shuffle_mb": (_layer(r, "report", "shuffle_write_mb"), "MB"),
            "checkpoint.meta_s": (_span(r, "checkpoint.meta"), "s"),
            **_checkpoint_dir(vals),
        })
        layers.update(_spark_layers(r))
    if tracer.enabled:
        layers.update(catalog_sweep(run, catalog.BATCH_QUERIES))
    return e2e, layers


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------


def stream_ingest(run):
    """The seed pages are ingested once, untimed, into a warehouse that is
    then kept as a snapshot.  One op copies the snapshot to a fresh
    warehouse (untimed) and times one ``ingest_neardup_batch`` call on the
    next micro-batch, so every op does the same work: the same url-bloom
    hits, band probe, appends and one ``clusters_delta`` compaction."""
    inc = _mod("streaming.incremental")
    cfg = _mod("config").DedupConfig()
    make_catalog = _mod("sources.checkpoint").make_catalog
    root = os.path.join(run.work, "inputs")
    counts = gen.write_stream(root, run.seed, STREAM_SEED, 1, STREAM_BATCH)
    run.detail["input_digest"] = gen.digest(root)
    run.detail["truth"] = counts
    truth = pd.read_parquet(os.path.join(root, "truth.parquet"))
    spark, tracer = run.spark, run.tracer

    def ingest(cat, batch_id: int, name: str):
        df = spark.read.parquet(os.path.join(root, name))
        inc.ingest_neardup_batch(spark, df, batch_id, cat, cfg,
                                 compact_min_rows=STREAM_COMPACT_ROWS)

    snapshot = os.path.join(run.work, "wh-seed")
    ingest(make_catalog(spark, snapshot), 0, "seed")
    _patch_catalog(tracer, {})
    tracer.patch(inc, "read_clusters", "ingest.read_clusters")
    tracer.patch(inc, "compact_clusters", "ingest.compact")
    tracer.patch(_mod("operators.cluster"), "connected_components", "cluster.cc")
    qualities = []

    def op(i: int, timed: bool) -> None:
        wh = os.path.join(run.work, f"wh{i}")
        shutil.copytree(snapshot, wh)
        cat = make_catalog(spark, wh)
        n_edges = _rows(os.path.join(wh, "edges"))
        with run.clock(), tracer.span("op"):
            ingest(cat, 1, "batch_000")
        if tracer.enabled:
            tracer.values["pairs_verified"] = _rows(os.path.join(wh, "edges")) - n_edges
            tracer.values["checkpoint"] = _dir_stats(wh)
        if timed:  # seed + batch deliver every truth page: each must be clustered
            with tracer.paused():  # the check's own reads are not the op's
                pred = inc.read_clusters(cat).select("url", "cluster_id").toPandas()
            q = cluster_quality(pred, truth)
            _check_quality(run, q, f"op {i}")
            qualities.append(q)
        shutil.rmtree(wh)

    run.loop(op, warmups=0)
    e2e, layers = _fold(qualities) if qualities else ({}, {})
    if run.walls:
        e2e["docs_per_s"] = (STREAM_BATCH * len(run.walls) / sum(run.walls), "docs/s")
    if run.layer_runs:
        r = run.layer_runs
        vals = [h["values"] for h in r]
        layers.update({
            **_checkpoint_dir(vals),
            "checkpoint.append_s": (_span(r, "checkpoint.append"), "s"),
            "checkpoint.meta_s": (_span(r, "checkpoint.meta"), "s"),
            "ingest.read_clusters_s": (_span(r, "ingest.read_clusters"), "s"),
            "ingest.compactions": (median([h["layer_n"].get("ingest.compact", 0)
                                           for h in r]), "count"),
            "ingest.compact_s": (_span(r, "ingest.compact"), "s"),
            "cluster.cc_s": (_span(r, "cluster.cc"), "s"),
            "verify.pairs_verified": (median([v["pairs_verified"] for v in vals]),
                                      "count"),
        })
        layers.update(_spark_layers(r))
    if tracer.enabled:
        layers.update(catalog_sweep(run, catalog.STREAM_QUERIES))
    return e2e, layers


def _checkpoint_dir(vals: list[dict]) -> dict:
    """Files and bytes in the op's warehouse after the op."""
    return {"checkpoint.files": (median([v["checkpoint"][0] for v in vals]), "count"),
            "checkpoint.bytes_mb": (median([v["checkpoint"][1] for v in vals]), "MB")}


def _rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return pq.ParquetDataset(path).read(["id_a"]).num_rows


# --------------------------------------------------------------------------
# the query catalog (traced runs only)
# --------------------------------------------------------------------------


def catalog_sweep(run, names: tuple[str, ...]) -> dict:
    """One cold sweep of the catalog queries ``names`` after the timed ops
    (see ``catalog.py``): per-query walls, the cached size and the oracle
    check.  A query whose result differs from its DuckDB oracle, or that
    raises, fails the run."""
    tracer = run.tracer
    tracer.reset()
    try:
        out = catalog.sweep(run.spark, tracer, ROOT, names)
    except Exception as e:  # a query that raises fails the run
        run.fail(f"catalog sweep raised {type(e).__name__}: {e}"[:300])
        return {}
    h = tracer.harvest(out["sweep_s"])
    run.detail["catalog"] = {k: out[k] for k in ("digest", "queries", "mismatched")}
    if out["mismatched"]:
        run.fail(f"catalog: {len(out['mismatched'])} queries differ from "
                 f"their oracle: {out['mismatched'][:8]}")
    layers = {
        "catalog.sweep_s": (out["sweep_s"], "s"),
        "catalog.cached_mb": (out["cached_mb"], "MB"),
        "catalog.oracle_match": (out["oracle_match"], "frac"),
        "catalog.jobs": (h["total"].get("jobs", 0.0), "count"),
        "catalog.driver_idle_s": (h["total"]["driver_idle_s"], "s"),
    }
    for name, wall in out["walls"].items():
        layers[f"q.{name}_s"] = (wall, "s")
    return layers
