"""Table and NDJSON sinks over a generated bundle corpus: every carried
resource type lands through the thread pool with the entry counts of the
JSON files, the call-scoped cache is released on return (also when a
write raises), a caller-cached frame stays cached, and each location form
resolves to its database."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

N_BUNDLES = 8  # own corpus fixture dir (keyed by max_custkey)
DB = "fhir_write_tests"


def _json_entry_counts(corpus: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for name in sorted(os.listdir(corpus)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(corpus, name)) as f:
            for e in json.load(f).get("entry", []):
                rt = e["resource"]["resourceType"]
                counts[rt] = counts.get(rt, 0) + 1
    return counts


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from interop_spark.fhir.gen import write_corpus

    path = write_corpus(spark, sf_dir, max_custkey=N_BUNDLES)
    return path, _json_entry_counts(path)


@pytest.fixture()
def entry(spark, corpus):
    """A fresh ``entry()`` frame over the types the corpus carries."""
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.schema import FhirSchemaModel

    path, counts = corpus
    catalog = FhirSchemaModel()
    types = sorted(set(counts) & set(catalog.resource_types()))
    schemas = FhirSchemaModel(
        fhir_resource_map={t: catalog.schema(t) for t in types}
    )
    return read_from_directory(
        "file://" + path, spark=spark, glob_filter="*.json"
    ).entry(schemas=schemas)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _landed(spark, table: str, rt: str) -> int:
    return spark.table(table).select(F.explode(rt)).count()


def test_bulk_table_write_lands_every_carried_type(spark, corpus, entry):
    from interop_spark.fhir.write import bulk_table_write, resource_columns

    _, counts = corpus
    types = resource_columns(entry)
    assert len(types) > 3  # the writes go through the thread pool
    before = _persistent_rdds(spark)
    bulk_table_write(entry, DB, write_mode="overwrite")
    assert _persistent_rdds(spark) == before
    for rt in types:
        t = spark.table(f"`{DB}`.`{rt}`")
        assert {"bundleUUID", rt} <= set(t.columns)
        assert _landed(spark, f"`{DB}`.`{rt}`", rt) == counts[rt], rt


def test_bulk_table_write_releases_cache_when_a_write_raises(spark, entry):
    from interop_spark.fhir.write import bulk_table_write

    before = _persistent_rdds(spark)
    with pytest.raises(Exception, match="NoSuchResource"):
        bulk_table_write(
            entry, DB, columns=["Patient", "NoSuchResource", "Claim"]
        )
    assert _persistent_rdds(spark) == before
    assert entry.storageLevel.useMemory is False


def test_bulk_table_write_leaves_caller_cache_alone(spark, corpus, entry):
    from interop_spark.fhir.write import bulk_table_write

    _, counts = corpus
    entry.cache()
    try:
        entry.count()
        before = _persistent_rdds(spark)
        bulk_table_write(entry, DB, columns=["Patient", "Claim"])
        assert entry.storageLevel.useMemory
        assert _persistent_rdds(spark) == before
        assert _landed(spark, f"`{DB}`.`Patient`", "Patient") == counts["Patient"]
    finally:
        entry.unpersist()


def test_bulk_table_write_resolves_the_database_once(spark, entry, monkeypatch):
    from interop_spark.fhir import write

    calls = []
    resolve = write.resolve_database

    def counting(spark, location):
        calls.append(location)
        return resolve(spark, location)

    monkeypatch.setattr(write, "resolve_database", counting)
    write.bulk_table_write(entry, DB, columns=["Patient", "Claim", "Condition"])
    assert calls == [DB]


def test_bulk_ndjson_write_counts_and_releases_cache(spark, corpus, entry, tmp_path):
    from interop_spark.fhir.write import bulk_ndjson_write

    _, counts = corpus
    before = _persistent_rdds(spark)
    bulk_ndjson_write(entry, str(tmp_path), columns=["Patient", "Claim"])
    assert _persistent_rdds(spark) == before
    for rt in ("Patient", "Claim"):
        lines = spark.read.text(str(tmp_path / rt)).collect()
        assert len(lines) == counts[rt]
        assert {json.loads(r.value)["resourceType"] for r in lines} == {rt}


@pytest.mark.parametrize(
    "location, database",
    [
        ("fw_one", "`fw_one`"),
        ("fw_cat.fw_schema", "`fw_cat_fw_schema`"),
        ("fw_a.fw_b.fw_c", "`fw_a_fw_b_fw_c`"),
        ("spark_catalog.fw_db", "`spark_catalog`.`fw_db`"),
    ],
)
def test_location_forms_resolve_to_a_database(spark, location, database):
    from interop_spark.fhir.write import (
        drop_table_if_exists,
        resolve_database,
        resolve_table_name,
        save_as_table,
    )

    assert resolve_database(spark, location) == database
    assert resolve_table_name(spark, location, "T") == f"{database}.`T`"
    assert spark.catalog.databaseExists(database.replace("`", ""))
    full = f"{location}.fw_table"
    save_as_table(spark.range(3), full)
    assert spark.table(f"{database}.`fw_table`").count() == 3
    drop_table_if_exists(spark, full)
    assert not spark.catalog.tableExists(f"{database}.`fw_table`".replace("`", ""))
