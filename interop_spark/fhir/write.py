"""Table sinks: per-resource bulk writes and flattened saveAsTable helpers.

Reference surface:
- ``bulk_table_write(location, write_mode, columns)`` — one table per
  resource column, carrying ``bundleUUID`` (+ ``timestamp`` when present)
  (`01_dbignite_sample.py:221-223,425-427`; written-table shape evidenced by
  the sub-selects at `:241-242,455-456`).
- flattened ``df.write.saveAsTable`` (K1, `:72,112,174,206`).

Local test environments have no Unity Catalog, so 3-level names like
``hls_healthcare.hls_dev.Patient`` fall back to a 2-level
``hls_healthcare_hls_dev.Patient`` in the session catalog (SURVEY.md §7
hard-part (e)). At scale the same code path writes through whatever
catalog the session has configured.
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUNDLE_META_COLS = ("bundleUUID", "bundleId", "bundleType", "timestamp", "_file_path")


def resolve_database(spark: SparkSession, location: str) -> str:
    """Map ``location`` to a quoted, writable database identifier,
    creating the database if needed. A multi-level name whose head is
    not a known catalog collapses to one database
    (``hls_healthcare.hls_dev`` → ``hls_healthcare_hls_dev``), as when
    the session catalog is the only one available."""
    parts = [p for p in location.split(".") if p]
    if len(parts) >= 2:
        try:
            catalogs = {c.name for c in spark.catalog.listCatalogs()}
        except Exception:
            catalogs = {"spark_catalog"}
        if parts[0] not in catalogs:
            parts = ["_".join(parts)]
    db = ".".join(f"`{p}`" for p in parts)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    return db


def resolve_table_name(spark: SparkSession, location: str, table: str) -> str:
    """Map ``location + table`` to a writable identifier, creating the
    database if needed (see ``resolve_database``)."""
    return f"{resolve_database(spark, location)}.`{table}`"


def resource_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in BUNDLE_META_COLS]


@contextmanager
def shared_input(df: DataFrame, targets: int) -> Iterator[DataFrame]:
    """Yield ``df`` for ``targets`` independent write jobs, computed once.

    With more than one target, each job would otherwise re-execute the
    full input lineage (for an ``entry()`` frame: the wholetext read and
    JSON parse of every bundle). So the frame is persisted in Spark's
    columnar cache, materialized by one eager ``count()`` before any
    write starts, and unpersisted on exit, also when a write raises.
    The cache is column-striped: a write that selects one resource
    column reads only that column's buffers. A frame the caller already
    cached is used as it is and left cached."""
    if targets <= 1 or df.storageLevel != StorageLevel.NONE:
        yield df
        return
    df = df.persist()
    try:
        df.count()
        yield df
    finally:
        df.unpersist()


def bulk_table_write(
    df: DataFrame,
    location: str,
    write_mode: str = "overwrite",
    columns: list[str] | None = None,
    materialize: bool = True,
) -> None:
    """Write each resource column as ``<location>.<Resource>`` with its
    bundle lineage key (+ event timestamp for message bundles).

    With more than one target the input is materialized once, eagerly,
    in the columnar cache before the writes start and released on
    return (``shared_input``); a frame the caller already cached is used
    as it is and left cached. Pass ``materialize=False`` when the caller
    already checkpointed the frame. The database is resolved (and
    created) once per call. The per-table write jobs are independent,
    so they run from a small thread pool: one table's write tail
    back-fills executors the next write would leave idle.
    """
    targets = columns if columns is not None else resource_columns(df)
    carry = ["bundleUUID"] + (["timestamp"] if "timestamp" in df.columns else [])
    db = resolve_database(df.sparkSession, location)
    with shared_input(df, len(targets) if materialize else 1) as src:

        def _write(rt: str) -> None:
            (
                src.select(*carry, rt)
                .write.mode(write_mode)
                .format("parquet")
                .saveAsTable(f"{db}.`{rt}`")
            )

        if len(targets) <= 1:
            for rt in targets:
                _write(rt)
            return
        with ThreadPoolExecutor(max_workers=min(3, len(targets))) as pool:
            write = inheritable_thread_target(df.sparkSession)(_write)
            list(pool.map(write, targets))


def save_as_table(df: DataFrame, full_name: str, mode: str = "overwrite") -> None:
    """K1: flattened-projection sink with the same 3-level fallback."""
    spark = df.sparkSession
    loc, _, table = full_name.rpartition(".")
    name = resolve_table_name(spark, loc, table) if loc else f"`{full_name}`"
    df.write.mode(mode).format("parquet").saveAsTable(name)


def drop_table_if_exists(spark: SparkSession, full_name: str) -> None:
    """K4: idempotent re-run setup (`01_dbignite_sample.py:215-219`)."""
    loc, _, table = full_name.rpartition(".")
    if loc:
        name = resolve_table_name(spark, loc, table)
    else:
        name = f"`{full_name}`"
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def bulk_ndjson_write(
    df: DataFrame,
    location: str,
    write_mode: str = "overwrite",
    columns: list[str] | None = None,
) -> None:
    """Reverse bulk export (round-10, the sink twin of ``FhirNdjson``):
    each resource column of an ``entry()`` bundle-row frame is exploded
    and re-serialized as JSON lines under ``<location>/<Resource>/`` —
    the FHIR Bulk Data ``$export`` layout, written DISTRIBUTED (part
    files of lines; a single .ndjson file cannot be written in
    parallel, and ``FhirNdjson``/any bulk importer consumes a directory
    of line files identically).

    ``to_json`` omits null fields, so the emitted lines carry only the
    fields present in the source rows; ``resourceType`` is part of every
    catalog StructType and round-trips.

    With more than one target the input is materialized once, eagerly,
    in the columnar cache and released on return (``shared_input``); a
    frame the caller already cached is used as it is and left cached.
    At real scale prefer passing a narrow ``columns`` list (or staging
    ``entry()`` to a table) over caching a full-catalog frame."""
    targets = columns if columns is not None else resource_columns(df)
    with shared_input(df, len(targets)) as src:
        for rt in targets:
            exploded = src.select(F.explode(rt).alias("_r")).select(
                F.to_json(F.col("_r")).alias("value")
            )
            exploded.write.mode(write_mode).text(f"{location.rstrip('/')}/{rt}")
