"""spark-submit entry point for the near-duplicate pipeline.

Production: spark-submit --py-files dist/pkg.zip jobs/dedupe.py \
    --input <pages parquet/iceberg path> --warehouse <checkpoint dir>

Sandbox/demo: --fixture N synthesizes the deterministic planted-cluster
corpus (north-rule input shape) instead of reading an input table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from image_deduplication_3m_images_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path (parquet dir)")
    ap.add_argument("--fixture", type=int, default=0, help="synthesize N fixture rows instead")
    ap.add_argument("--warehouse", required=True, help="checkpoint/lineage dir")
    ap.add_argument("--cores", type=int, default=default_cores(),
                    help="TOTAL cores (threads for local[N]; N*C for local-cluster)")
    ap.add_argument("--master", default=None,
                    help="Spark master override, e.g. local-cluster[8,4,4096]")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--canonicalize-urls", action="store_true",
                    help="URL-identity dedup pre-pass: canonical urls, one page per url")
    args = ap.parse_args()

    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.plans.dedupe import pipeline_summary, run_dedupe
    from image_deduplication_3m_images_spark.session import get_spark
    from image_deduplication_3m_images_spark.sources.pages_fixture import (
        pages_distributed,
    )

    from image_deduplication_3m_images_spark.session import warm_python_workers

    spark = get_spark(cores=args.cores, master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    # executor Python workers spin up once per executor lifetime on a real
    # cluster; pay it before the timed window here too
    warm_python_workers(spark, args.cores)

    if args.fixture:
        # materialize the synthetic corpus as a parquet table first so the
        # timed pipeline does a distributed scan (the north-rule input is a
        # table, not a driver-side list)
        # (local-fs path check: the --fixture shortcut targets dev/bench
        # warehouses on local disk; cluster runs feed a real table via
        # --input instead)
        input_path = os.path.join(args.warehouse, "_input_pages")
        # generator fingerprint beside the table (ADVICE r5): row count
        # alone would silently reuse a same-size corpus generated with a
        # different seed/partitioning (or by an older generator version)
        gen_meta = {"n_rows": args.fixture, "seed": 42, "partitions": 128}
        meta_path = os.path.join(args.warehouse, "_input_pages_meta.json")
        pages = None
        if os.path.exists(os.path.join(input_path, "_SUCCESS")) and os.path.exists(
            meta_path
        ):
            with open(meta_path) as f:
                if json.load(f) == gen_meta:
                    pages = spark.read.parquet(input_path)
        if pages is None:
            # distributed executor-side generation; fixed partition count so
            # runs at different core counts read byte-identical input layouts
            pages_distributed(
                spark, args.fixture, seed=gen_meta["seed"],
                partitions=gen_meta["partitions"],
            ).write.mode("overwrite").parquet(input_path)
            with open(meta_path, "w") as f:
                json.dump(gen_meta, f, sort_keys=True)
            pages = spark.read.parquet(input_path)
        n = pages.count()
    elif args.input:
        pages = spark.read.parquet(args.input)
        n = pages.count()
    else:
        ap.error("one of --input / --fixture is required")
        return

    # box-speed constant measured just before the timed window: divide walls
    # by this to compare runs across measurement windows on this drifting VM
    from image_deduplication_3m_images_spark.calibration import calibration_const

    calibration = calibration_const()

    cfg = DedupConfig(canonicalize_urls=args.canonicalize_urls)
    t0 = time.time()
    report = run_dedupe(spark, pages, args.warehouse, cfg, resume=not args.no_resume)
    summary = pipeline_summary(report)
    wall = time.time() - t0
    summary.update(
        {
            "wall_s": round(wall, 2),
            "docs_per_sec": round(n / wall, 1),
            "cores": args.cores,
            "config_hash": cfg.config_hash(),
            "calibration": calibration,
        }
    )
    # per-stage walls straight from the lineage table (written by the stage
    # wrapper) — the scaling harness uses these to attribute scaling loss
    from image_deduplication_3m_images_spark.sources.checkpoint import make_catalog

    cat = make_catalog(spark, args.warehouse)
    lineage = cat.lineage()
    stage_walls: dict = {}
    snap_cache: dict = {}
    for r in lineage.select("stage", "extra").distinct().collect():
        e = json.loads(r["extra"])
        w = e.get("wall_s")
        if w is None:
            continue
        # lineage is append-only: filter to the row describing the table's
        # CURRENT snapshot, else a --no-resume re-run in a reused warehouse
        # reports the max over ALL historical runs (stale attribution)
        snap = e.get("output_snapshot")
        if snap is not None:
            # NOT setdefault(stage, cat.snapshot_id(...)): Python evaluates
            # the default eagerly, which would fingerprint the table dir
            # once per lineage row instead of once per stage
            if r["stage"] not in snap_cache:
                snap_cache[r["stage"]] = cat.snapshot_id(r["stage"])
            if snap != snap_cache[r["stage"]]:
                continue
        stage_walls[r["stage"]] = max(w, stage_walls.get(r["stage"], 0.0))
    summary["stage_walls"] = stage_walls
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
