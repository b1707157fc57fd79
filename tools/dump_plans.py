"""Dump .explain("formatted") for every declared query to plans/<tag>/.

Usage: python tools/dump_plans.py [tag] [suffix] [query ...]

Queries are built in catalog order (memoized shared stages are present the
same way they are during a bench run) and each plan is written to
plans/<tag>/<query>_<suffix>.txt (defaults: tag "r06", suffix "before").
Query names after the suffix restrict the dump to those queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from image_deduplication_3m_images_spark.plans import queries as Q
    from image_deduplication_3m_images_spark.session import default_cores, get_spark

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(cores=default_cores())
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in Q.ALL_QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
