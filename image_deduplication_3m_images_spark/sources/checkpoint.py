"""Stage checkpointing + per-partition lineage, with idempotent resume.

Reference analog: ``ProgressTracker`` JSON checkpoint + processed-set resume
(``/root/reference/pipeline.py:106-173,464-471``) and the gzip-pickle feature
cache as the stage-1 materialization (``modules/feature_cache.py``).

Production target is Iceberg (snapshot ids give exactly-once semantics); this
module speaks a minimal catalog interface with two backends:

  * ``IcebergCatalog``  — used when an Iceberg catalog is configured on the
    session (``spark.sql.catalog.local`` set and the runtime jar present).
  * ``ParquetCatalog``  — local/dev backend with the same semantics:
    a table commit = atomic directory rename (write to ``_tmp_<table>`` then
    rename), a snapshot id = the content fingerprint of the commit.

Lineage rows (north rule: "per-partition lineage — partition id, input
snapshot, signature config hash, pair counts") hold every stage fact the
catalog keeps, in one table: stage outputs, maintenance events and the
stream's batch-completion markers.  ``LINEAGE_COLUMNS`` is their format.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_TABLE = "_lineage"
# the Spark SQL catalog an IcebergCatalog writes to
ICEBERG_CATALOG = "local"
# (name, Spark DDL type) of each lineage column: the one definition both
# the Spark DDL and the pyarrow schema are derived from
LINEAGE_COLUMNS = (
    ("stage", "string"), ("partition_id", "int"), ("rows", "long"),
    ("input_snapshot", "string"), ("config_hash", "string"), ("extra", "string"),
)
_LINEAGE_SCHEMA = ", ".join(f"{n} {t}" for n, t in LINEAGE_COLUMNS)


def _lineage_arrow_schema():
    import pyarrow as pa

    arrow = {"string": pa.string(), "int": pa.int32(), "long": pa.int64()}
    return pa.schema([(n, arrow[t]) for n, t in LINEAGE_COLUMNS])


def parquet_file_rows(path: str) -> list[int]:
    """Row count of each parquet data file under ``path`` (a file or a
    directory tree, files in sorted path order), read from the FOOTERS on
    the driver: no Spark job, no data scan (Iceberg equivalent: manifest
    record counts).  Files named ``_*`` or ``.*`` are not data."""
    import pyarrow.parquet as pq

    return [pq.ParquetFile(f).metadata.num_rows for f in _data_files(path)]


def _data_files(path: str) -> list[str]:
    return [path] if os.path.isfile(path) else sorted(
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _spark_row_schema(path: str):
    """The Spark schema a Spark writer stored in the footer of the first
    data file under ``path`` (the ``org.apache.spark.sql.parquet.row.metadata``
    key, the one Spark's own schema inference reads), read on the driver;
    None when there is no such file or key (a pyarrow-written table)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = _data_files(path)
    meta = pq.read_metadata(files[0]).metadata if files else None
    row = (meta or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(row)) if row else None


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def make_catalog(spark: SparkSession, warehouse: str):
    """Backend selection: IcebergCatalog when the runtime jar is on the
    classpath AND a Spark SQL catalog named ``ICEBERG_CATALOG`` is
    configured; ParquetCatalog (same interface, same semantics) otherwise."""
    configured = spark.conf.get(f"spark.sql.catalog.{ICEBERG_CATALOG}", None)
    if configured and iceberg_available(spark):
        return IcebergCatalog(spark, warehouse)
    return ParquetCatalog(spark, warehouse)


class _Catalog:
    """The lineage writers, reader and resume gate both backends share;
    each backend supplies ``exists``, ``read``, ``snapshot_id``,
    ``_file_rows`` (per-data-file row counts from metadata) and
    ``_append_lineage`` (commit lineage rows)."""

    def row_count(self, table: str) -> int:
        """Committed row count from file metadata, no data scan.  Used for
        byte-guard decisions (broadcast-or-shuffle) that previously cost a
        full count() job per stage."""
        return sum(self._file_rows(table))

    def log_lineage_for_table(
        self,
        table: str,
        stage: str,
        config_hash: str,
        input_snapshot: str = "",
        extra: dict | None = None,
    ) -> None:
        """Per-partition lineage of a committed table: one row per data
        file, row counts from metadata (parquet footers, Iceberg manifest
        entries), no data scan.  ``output_snapshot`` in ``extra`` records
        WHICH table contents the rows describe (see ``current_lineage``)."""
        extra_json = json.dumps(
            {**(extra or {}), "output_snapshot": self.snapshot_id(table)},
            sort_keys=True,
        )
        self._append_lineage([
            (stage, idx, n, input_snapshot, config_hash, extra_json)
            for idx, n in enumerate(self._file_rows(table))
        ] or [(stage, -1, 0, input_snapshot, config_hash, extra_json)])

    def log_event(
        self, stage: str, config_hash: str, extra: dict | None = None
    ) -> None:
        """Single lineage row for audits, counters and markers not tied to
        a table write."""
        self._append_lineage(
            [(stage, -1, 0, "", config_hash, json.dumps(extra or {}, sort_keys=True))]
        )

    def lineage(self) -> list[dict]:
        """Every lineage row, as dicts keyed by ``LINEAGE_COLUMNS``.  This
        default collects the table through Spark (the Iceberg path);
        ``ParquetCatalog`` reads its files on the driver instead."""
        if not self.exists(LINEAGE_TABLE):
            return []
        return [r.asDict() for r in self.read(LINEAGE_TABLE).collect()]

    def current_lineage(self, stage: str) -> list[dict]:
        """The lineage rows describing table ``stage``'s CURRENT contents:
        their ``output_snapshot`` (in ``extra``) is the table's snapshot.
        Lineage is append-only, so after a config flip A->B->A the old A
        rows remain while the table holds B data; a row without the key
        (events, older warehouses) vouches for nothing."""
        if not self.exists(stage):
            return []
        snap = self.snapshot_id(stage)
        return [
            r
            for r in self.lineage()
            if r["stage"] == stage
            and json.loads(r["extra"]).get("output_snapshot") == snap
        ]

    def stage_complete(self, stage: str, config_hash: str, input_snapshot: str) -> bool:
        """Resume gate: a current lineage row of ``stage`` carries the same
        config hash and the same input snapshot (what the stage read)."""
        return any(
            r["config_hash"] == config_hash and r["input_snapshot"] == input_snapshot
            for r in self.current_lineage(stage)
        )


class ParquetCatalog(_Catalog):
    """Directory-per-table parquet warehouse with atomic commit + lineage."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _heal(self, table: str) -> None:
        # recover the crash window of write(): if the process died between
        # "rename final -> _old_" and "rename tmp -> final", the committed
        # data survives in the _old_ sibling — restore it (newest wins)
        final = self._path(table)
        if os.path.isdir(final):
            return
        import glob

        olds = sorted(glob.glob(final + "_old_*"), key=os.path.getmtime)
        if olds:
            os.rename(olds[-1], final)

    def exists(self, table: str) -> bool:
        # a table is visible if the overwrite/append marker exists OR any
        # committed append batch dir does: an append's commit point is the
        # batch-dir rename itself (see append), so a crash between that
        # rename and the marker touch must not hide committed data — a later
        # successful append would otherwise retroactively expose the orphan
        # batch as surprise rows (ADVICE r4 item 1)
        self._heal(table)
        p = self._path(table)
        if not os.path.isdir(p):
            return False
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return True
        return any(e.startswith("batch_") for e in os.listdir(p))

    # -- table io ----------------------------------------------------------
    def write(self, df: DataFrame, table: str) -> str:
        """Atomic overwrite: write to a tmp dir, then a two-RENAME swap (the
        old table is renamed aside, the tmp renamed in, the old dir deleted
        last).  A plain rmtree-then-rename would have a crash window where
        the committed table is deleted and not yet replaced; here every
        transition is an atomic rename, and a crash between the two renames
        leaves the old data in an ``_old_`` sibling that ``_heal`` restores
        on the next access.  Returns snapshot id."""
        final = self._path(table)
        tmp = final + "_tmp_" + uuid.uuid4().hex[:8]
        df.write.mode("overwrite").parquet(tmp)
        old = final + "_old_" + uuid.uuid4().hex[:8]
        if os.path.exists(final):
            os.rename(final, old)
        try:
            os.rename(tmp, final)
        except BaseException:
            if os.path.isdir(old):
                os.rename(old, final)
            raise
        if os.path.isdir(old):
            shutil.rmtree(old)
        # GC siblings leaked by CRASHED earlier writes (a crash after the
        # commit rename but before the rmtree above leaves an _old_ dir;
        # a crash mid-write leaves a _tmp_ dir).  Once this commit stands,
        # any survivor is stale — and a stale _old_ left in place would be
        # RESURRECTED by _heal if the table is later drop()ped.  Append
        # tmp dirs (``_tmp_append_*``) get an AGE guard instead of the
        # blanket sweep: a fresh one may be a CONCURRENT append's in-flight
        # batch (ADVICE r5 — the old glob deleted it mid-write), while an
        # hour-old one is crashed-append debris that nothing else collects.
        import glob
        import time

        append_prefix = final + "_tmp_append_"
        stales = glob.glob(final + "_old_*")
        for d in glob.glob(final + "_tmp_*"):
            if not d.startswith(append_prefix):
                stales.append(d)
                continue
            try:
                if time.time() - os.path.getmtime(d) > 3600:
                    stales.append(d)
            except OSError:
                pass  # raced with the append's commit rename: leave it
        for stale in stales:
            shutil.rmtree(stale, ignore_errors=True)
        return self.snapshot_id(table)

    def append(self, df: DataFrame, table: str) -> None:
        """Atomic append: the batch's files are written to a SIBLING tmp dir
        and enter the table through ONE directory rename — the rename IS the
        commit point (exists() treats any ``batch_*`` subdir as commitment,
        so a crash right after the rename cannot hide committed data).  A
        crash mid-write leaves only an invisible tmp dir.  Note the marker
        gap this closes but does not remove: appends are still at-least-once
        under replay, so streaming consumers must tolerate a re-appended
        batch (see ``ingest_neardup_batch``'s exactly-once note)."""
        final = self._path(table)
        tmp = final + "_tmp_append_" + uuid.uuid4().hex[:8]
        df.write.mode("overwrite").parquet(tmp)
        os.makedirs(final, exist_ok=True)
        os.rename(tmp, os.path.join(final, "batch_" + uuid.uuid4().hex[:8]))
        # marker kept for overwrite-path compat; exists() no longer needs it
        # for appended tables
        open(os.path.join(final, "_SUCCESS"), "a").close()

    def _file_rows(self, table: str) -> list[int]:
        return parquet_file_rows(self._path(table))

    def read(self, table: str) -> DataFrame:
        # appended tables hold one committed subdir per batch.  Handing
        # Spark the footer's schema saves the one-task schema-inference job
        # every read would otherwise launch.
        self._heal(table)
        reader = self.spark.read.option("recursiveFileLookup", "true")
        schema = _spark_row_schema(self._path(table))
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(table))

    def drop(self, table: str) -> None:
        # remove crash-leftover siblings too: a surviving _old_ dir would
        # be renamed back by _heal on the next exists()/read(), silently
        # resurrecting the dropped table
        import glob

        p = self._path(table)
        for d in [p] + glob.glob(p + "_old_*") + glob.glob(p + "_tmp_*"):
            if os.path.isdir(d):
                shutil.rmtree(d)

    def snapshot_id(self, table: str) -> str:
        """Content fingerprint of the committed table dir (file names+sizes) —
        the ParquetCatalog stand-in for an Iceberg snapshot id."""
        p = self._path(table)
        entries = []
        for root, _dirs, files in os.walk(p):
            for f in sorted(files):
                if f.startswith("_") or f.startswith("."):
                    continue
                fp = os.path.join(root, f)
                entries.append((os.path.relpath(fp, p), os.path.getsize(fp)))
        import hashlib

        return hashlib.sha256(json.dumps(sorted(entries)).encode()).hexdigest()[:16]

    # -- lineage -----------------------------------------------------------
    def lineage(self) -> list[dict]:
        """Every lineage row, read on the driver with pyarrow, the same way
        :meth:`_append_lineage` writes them: no Spark job."""
        import pyarrow.parquet as pq

        if not self.exists(LINEAGE_TABLE):
            return []
        return pq.read_table(
            self._path(LINEAGE_TABLE), schema=_lineage_arrow_schema()
        ).to_pylist()

    def _append_lineage(self, rows: list[tuple]) -> None:
        """Append driver-side lineage rows WITHOUT a Spark job: one pyarrow
        parquet file committed through the same batch-dir rename as
        :meth:`append`.  Round-6 optimization — every
        pipeline stage used to pay a createDataFrame + distributed-write
        job to record a handful of lineage rows; this backend is local-fs
        by construction (the Iceberg backend handles real clusters), so a
        driver write is both legal and ~one job cheaper per stage.  The
        arrow schema matches Spark's (`int` -> int32, `long` -> int64) so
        mixed readers see one consistent table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = _lineage_arrow_schema()
        cols = list(zip(*rows))
        tbl = pa.table(
            {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
        )
        final = self._path(LINEAGE_TABLE)
        tmp = final + "_tmp_append_" + uuid.uuid4().hex[:8]
        os.makedirs(tmp)
        pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
        os.makedirs(final, exist_ok=True)
        os.rename(tmp, os.path.join(final, "batch_" + uuid.uuid4().hex[:8]))
        open(os.path.join(final, "_SUCCESS"), "a").close()

    def log_lineage(
        self,
        df: DataFrame,
        stage: str,
        config_hash: str,
        input_snapshot: str = "",
        extra: dict | None = None,
    ) -> None:
        """One lineage row per spark partition of ``df``.  Unused by the
        pipeline, and its rows (no ``output_snapshot``) never satisfy
        :meth:`stage_complete`; kept while ``perfbench/``'s tracer wraps it."""
        per_part = (
            df.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("rows"))
            .select(
                F.lit(stage).alias("stage"),
                "partition_id",
                "rows",
                F.lit(input_snapshot).alias("input_snapshot"),
                F.lit(config_hash).alias("config_hash"),
                F.lit(json.dumps(extra or {}, sort_keys=True)).alias("extra"),
            )
        )
        self.append(per_part, LINEAGE_TABLE)


class IcebergCatalog(_Catalog):
    """Iceberg-backed catalog: the production checkpoint layer (north rule:
    every stage checkpoints to Iceberg with per-partition lineage).

    Same interface and semantics as ParquetCatalog, with the real thing
    underneath: a table commit is an Iceberg snapshot (atomic, exactly-once
    by the catalog's own commit protocol), ``snapshot_id`` is the table's
    current Iceberg snapshot id, and per-partition lineage row counts come
    from the ``.files`` metadata table (manifest entries — no data scan).

    Requires the iceberg-spark-runtime jar and a configured SQL catalog
    (``spark.sql.catalog.local``); raises at construction otherwise, so
    ``make_catalog`` can fall back to ParquetCatalog cleanly.  Tables live
    in a namespace derived from the warehouse path so concurrent warehouses
    never collide.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime jar not on the classpath; "
                "use make_catalog() for automatic fallback"
            )
        self.spark = spark
        self.warehouse = warehouse
        import hashlib

        ns = "wh_" + hashlib.sha256(os.path.abspath(warehouse).encode()).hexdigest()[:12]
        self.ns = f"{ICEBERG_CATALOG}.{ns}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")

    # -- identifiers --------------------------------------------------------
    def _tbl(self, table: str) -> str:
        return f"{self.ns}.`{table}`"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(table))

    # -- table io ------------------------------------------------------------
    def write(self, df: DataFrame, table: str) -> str:
        """Atomic overwrite = Iceberg REPLACE TABLE commit; returns the new
        snapshot id."""
        df.writeTo(self._tbl(table)).using("iceberg").createOrReplace()
        return self.snapshot_id(table)

    def append(self, df: DataFrame, table: str) -> None:
        if self.exists(table):
            df.writeTo(self._tbl(table)).append()
        else:
            df.writeTo(self._tbl(table)).using("iceberg").create()

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self._tbl(table))

    def drop(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(table)}")

    def snapshot_id(self, table: str) -> str:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(table)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(rows[0][0]) if rows else ""

    # -- lineage ------------------------------------------------------------
    def _file_rows(self, table: str) -> list[int]:
        """Per-data-file record counts from the ``.files`` manifest metadata
        table (the real version of the ParquetCatalog's footer read)."""
        files = self.spark.sql(
            f"SELECT record_count FROM {self._tbl(table)}.files ORDER BY file_path"
        ).collect()
        return [int(r["record_count"]) for r in files]

    def _append_lineage(self, rows: list[tuple]) -> None:
        self.append(self.spark.createDataFrame(rows, _LINEAGE_SCHEMA), LINEAGE_TABLE)
