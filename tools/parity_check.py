"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir, compare row count,
column names, per-column TYPES, and order-insensitive value hash.

The type check is the driver-faithful part (VERDICT round 2, item 2): the
driver hashes typed Arrow columns, so a DuckDB HUGEINT (``sum(BIGINT)``)
diverges from a Spark BIGINT even when every value is identical. Python
``fetchall()`` silently converts both to ``int`` and hides that class of
failure, so we additionally fetch the oracle result as an Arrow table and
assert each column's canonical type equals the Spark column's canonical
type — a mismatch is a FAIL here exactly as it is in CORRECTNESS_r{N}.json.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def canon_arrow_type(t):
    """Canonical type string for a pyarrow DataType.

    DuckDB HUGEINT arrives as decimal128(38, 0) — deliberately NOT collapsed
    to int64, so an oracle missing an outer ::BIGINT cast fails loudly here.
    """
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{canon_arrow_type(t.value_type)}>"
    return str(t)


_SPARK_CANON = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "boolean": "bool",
    "string": "string",
    "binary": "binary",
    "date": "date",
}


def canon_spark_type(s):
    """Canonical type string for a Spark simpleString dtype."""
    if s in _SPARK_CANON:
        return _SPARK_CANON[s]
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal"):
        return s.replace(" ", "")
    if s.startswith("array<") and s.endswith(">"):
        return f"list<{canon_spark_type(s[6:-1])}>"
    return s


def type_mismatches(sdf, arrow_tbl):
    """[(col, spark_type, duck_type)] where canonical types differ."""
    duck = {f.name: canon_arrow_type(f.type) for f in arrow_tbl.schema}
    out = []
    for name, dtype in sdf.dtypes:
        st = canon_spark_type(dtype)
        dt = duck.get(name)
        if dt is not None and st != dt:
            out.append((name, st, dt))
    return out


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from image_deduplication_3m_images_spark.session import get_spark

    spark = get_spark(cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # The pair-query oracles emit FULL within-bucket O(n^2) pairs, while the
    # engine substitutes salted/star edges above bucket_star_cap — parity on
    # those queries is only meaningful when the engine plans the skew-free
    # path.  The guard reads the same memoized skew verdict the catalog's
    # candidate stage plans with, so it fails loudly exactly when the engine
    # would take the tier plan, instead of letting a fixture change silently
    # turn hash mismatches into a head-scratcher.
    from image_deduplication_3m_images_spark.plans.queries import _bucket_profile

    prof = _bucket_profile(spark, sf_dir)
    if prof["hot_detected"]:
        sys.exit(
            f"FIXTURE INVALID FOR PARITY: skew probe {prof} calls a band bucket "
            "hot; the engine would take the star/salt tiers while the DuckDB "
            "oracle models full within-bucket pairs. Shrink the fixture or "
            "raise the cap."
        )

    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    if only:
        unknown = set(only) - set(qmap)
        if unknown:
            # a typo'd filter must not skip everything and print a false
            # green "all parity checks passed"
            raise SystemExit(f"unknown query name(s): {sorted(unknown)}")
    failures = []
    for name, fn in qmap.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in omap:
            print(f"{name:24s} rows-only: spark={len(srows)} (no oracle)")
            continue
        try:
            res = con.execute(omap[name])
            atbl = res.fetch_arrow_table()
            dcols = atbl.column_names
            drows = [[r[c] for c in dcols] for r in atbl.to_pylist()]
        except Exception as e:
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        bad_types = type_mismatches(sdf, atbl) if ok_cols else []
        ok_types = not bad_types
        ok_count = len(srows) == len(drows)
        sh = table_hash(scols, [[r[c] for c in scols] for r in srows])
        dh = table_hash(dcols, drows)
        ok_hash = sh == dh
        status = "OK" if (ok_cols and ok_types and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{name:24s} {status}  rows {len(srows)}/{len(drows)}"
            f" cols={'=' if ok_cols else f'{scols} vs {dcols}'}"
            f" types={'=' if ok_types else bad_types}"
            f" hash={'=' if ok_hash else f'{sh} vs {dh}'}"
        )
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all parity checks passed")


if __name__ == "__main__":
    main()
