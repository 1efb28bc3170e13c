"""Seeded, hermetic inputs: the program sees only what this module writes.

Every source table of the read-only ``sf0.1`` fixture is thinned by a
seeded Bernoulli draw (each row kept with probability ``KEEP``) and
written under a directory whose basename carries the seed, so two seeds
never share an input set or any cache keyed by that basename.

The first ``ANCHOR_ROWS`` rows of each table (keys 0-7 in these tables)
are always kept: registry rows take their query vectors (``vec_id`` 0
and 1) and IVF centroids (``vec_id`` < 8) from them, and fail when one
is missing.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

# the read-only sf0.1 fixture tables described in TESTDATA.md
SOURCE_SF = "/root/testdata/sf0.1"
KEEP = 0.3
# Tables this small (nation, region) are dimension tables: keep them whole.
WHOLE_BELOW = 100
ANCHOR_ROWS = 8


def derive_tables(seed: int, out_dir: str) -> None:
    """Write the seeded thinning of every source table to ``out_dir``."""
    if not os.path.isdir(SOURCE_SF):
        raise FileNotFoundError(f"source tables not found: {SOURCE_SF}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for i, name in enumerate(sorted(os.listdir(SOURCE_SF))):
        table = pq.read_table(os.path.join(SOURCE_SF, name))
        if table.num_rows >= WHOLE_BELOW:
            keep = np.random.default_rng([seed, i]).random(table.num_rows) < KEEP
            keep[:ANCHOR_ROWS] = True
            table = table.filter(keep)
        pq.write_table(table, os.path.join(out_dir, name))


def write_bundle_corpus(spark, sf_dir: str, out_dir: str, max_custkey: int) -> int:
    """One FHIR bundle JSON file per seeded customer with
    ``c_custkey < max_custkey``, generated by ``fhir.gen.bundle_json_df``.
    Returns the number of files."""
    from interop_spark.fhir.gen import bundle_json_df

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rows = bundle_json_df(spark, sf_dir, max_custkey=max_custkey).collect()
    for r in rows:
        key = int(r["_file_path"].rsplit("/", 1)[-1])
        with open(os.path.join(out_dir, f"bundle-{key:06d}.json"), "w") as f:
            f.write(r["value"])
    return len(rows)


def count_entries(corpus_dir: str) -> dict[str, int]:
    """Entries per resourceType, counted with ``json`` from the files."""
    counts: dict[str, int] = {}
    for name in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, name)) as f:
            bundle = json.load(f)
        for e in bundle.get("entry", []):
            rt = e["resource"]["resourceType"]
            counts[rt] = counts.get(rt, 0) + 1
    return counts


def json_bytes(corpus_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(corpus_dir, n)) for n in os.listdir(corpus_dir)
    )
