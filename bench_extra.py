"""Noop-sink isolated per-query timing (guide §1.4) — NOT the frozen bench.

Times a subset of declared queries with repeats, each through the noop sink,
with job descriptions set, printing per-query seconds as JSON.  The frozen
driver contract lives in bench.py; this file exists for optimization-round
measurement (before/after evidence in OPTIMIZATION_r06.md).

Usage: python bench_extra.py [repeats] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from image_deduplication_3m_images_spark.calibration import calibration_const
    from image_deduplication_3m_images_spark.plans import queries as Q
    from image_deduplication_3m_images_spark.session import (
        default_cores,
        get_spark,
        warm_python_workers,
    )

    names = sys.argv[2:] or list(Q.ALL_QUERIES)
    cores = default_cores()
    calibration = calibration_const()
    spark = get_spark(cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark, cores)

    out: dict[str, list[float]] = {}
    for r in range(repeats):
        for name in names:
            fn = Q.ALL_QUERIES[name]
            spark.sparkContext.setJobDescription(f"bench_extra: {name} rep{r}")
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(
        json.dumps(
            {
                "queries": {k: {"min": min(v), "samples": v} for k, v in out.items()},
                "calibration": calibration,
                "repeats": repeats,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
