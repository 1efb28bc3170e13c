"""FHIR bundle ingestion: directory of bundle JSONs → bundle-row DataFrame.

Reference surface (`01_dbignite_sample.py:22,25-26,145-146,416-422`):

    bundle = read_from_directory(path)
    df = bundle.entry()                       # or entry(schemas=FhirSchemaModel(...))
    bundle.bulk_table_write(location, write_mode, columns)

Spark-first design — the hot path is a SINGLE JSON parse per document:

1. ``spark.read.text(path, wholetext=True)`` — one row per bundle file;
   listing happens on the driver, file reads on executors (S3/file glob).
2. ``parse_json`` once per document into a VARIANT (binary, traversable
   without re-parsing).
3. Bundle-level fields (``id``, ``type``, ``timestamp``) by variant path.
4. Per requested resource type R: ``filter(entry[], resourceType==R)`` then
   a *typed* ``variant_get('$.resource', R-StructType)`` — only the fields
   declared in the schema are materialized, so FHIR-width structs don't
   explode the row size (the declared-schema analog of nested-schema
   pruning).

bundleUUID is deterministic (md5 of the file path formatted as a UUID), so
re-ingesting the same directory yields stable join/lineage keys — at
100 TB a re-run of an idempotent pipeline must not mint new UUIDs.

The nested-columnar posture (declared struct schemas + subfield pruning
into the scan) follows the record-shredding model of Dremel (Melnik et
al., VLDB 2010/2020) as implemented by parquet + Spark's
nestedSchemaPruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from interop_spark.fhir.schema import FhirSchemaModel


def _uuid_from_md5(col):
    """Format a 32-hex md5 as 8-4-4-4-12 UUID text."""
    return F.concat_ws(
        "-",
        F.substring(col, 1, 8),
        F.substring(col, 9, 4),
        F.substring(col, 13, 4),
        F.substring(col, 17, 4),
        F.substring(col, 21, 12),
    )


def entry_from_json(
    raw: DataFrame,
    schemas: FhirSchemaModel | None = None,
    include_other: bool = False,
) -> DataFrame:
    """Bundle-row DataFrame from a frame of raw bundle JSON documents.

    ``raw`` must carry ``value`` (the bundle JSON text) and ``_file_path``
    (the provenance string that seeds the deterministic bundleUUID). This
    is the parse core of ``FhirBundles.entry()`` — exposed so callers can
    ingest bundles that never touched a filesystem (message queues,
    generated fixtures, streaming micro-batches): same single-parse
    VARIANT path, same typed extraction, same bundleUUID derivation.

    ``include_other=True`` adds an ``_other`` column
    (array<struct<resourceType,resource>>, the resource re-serialized as
    JSON text) holding every entry whose resourceType is NOT in
    ``schemas`` — so resources outside the declared catalog are
    auditable instead of silently dropped. Off by default: the extra
    array traversal + re-serialization is only worth paying when the
    catalog might not cover the corpus.

    COST NOTE (fused traversal): the entries array is tagged ONCE —
    one traversal computing each entry's resourceType in its own
    projection — and each resource type's column is gated on a
    codegen'd ``array_contains`` of that tag array, its filter matching
    by ``element_at`` against the tags, so per-entry variant path
    lookups are paid once instead of once per catalog type. Measured on
    synthetic 120-entry bundles, full-catalog entry() is ~2x the
    pre-fusion per-type-traversal form. Two residual costs the fusion
    cannot remove, measured on the 1200-bundle sf0.01 corpus: (1) a
    fixed per-task planning/serialization overhead proportional to the
    DECLARED schema width (~40 ms/task at 39 types — 38 tasks cost
    ~1.5 s even with every typed column a literal NULL; it amortizes
    once tasks carry more than a few MB of bundles), and (2) the typed
    extraction of resource types actually present. Re-measured at the
    round-11 59-type catalog (corpus v9, 14 resources/bundle):
    full-catalog entry() runs ~2.5-6.5x a 2-type narrowed scan across
    measurement sessions (1.96 s vs 0.77 s on one local[8] run; 3.7 s
    vs 0.56 s on another at 54 types — the ratio is load-sensitive but
    consistently a MULTIPLE), so callers that know their resource
    types should still pass a narrowed ``FhirSchemaModel``
    (``fhir_ingest_corpus`` does).
    """
    schemas = schemas or FhirSchemaModel()
    # try_parse_json: a single corrupt document among millions must degrade
    # to a NULL row (auditable via _file_path), not abort the job
    v = raw.select(
        _uuid_from_md5(F.md5(F.col("_file_path"))).alias("bundleUUID"),
        F.col("_file_path"),
        F.try_parse_json(F.col("value")).alias("_v"),
    )
    meta = [
        F.col("bundleUUID"),
        F.variant_get("_v", "$.id", "string").alias("bundleId"),
        F.variant_get("_v", "$.type", "string").alias("bundleType"),
        F.variant_get("_v", "$.timestamp", "string")
        .cast("timestamp")
        .alias("timestamp"),
    ]
    entries = F.variant_get("_v", "$.entry", "array<variant>")
    # ONE traversal computes every entry's resourceType; the tag array
    # and the entries array live in their own projection referenced by
    # every per-type column, so CollapseProject leaves them evaluated
    # once per row (expensive expressions with many references are never
    # inlined). Per-type matching is then an element_at string compare
    # against the tag array — the variant path lookup is paid once per
    # entry, not once per (entry, catalog type).
    rts_arr = F.transform(
        entries,
        lambda e: F.variant_get(e, "$.resource.resourceType", "string"),
    )
    t = v.select(*meta, entries.alias("_entries"), rts_arr.alias("_rts"))
    meta_names = ["bundleUUID", "bundleId", "bundleType", "timestamp"]

    # factory closures over the loop variable (a default-arg capture in
    # a binary lambda would be clobbered by the index argument); the
    # matcher USES F.filter's (element, index) form deliberately, to
    # look up the precomputed tag for each entry.
    def _matcher(rt_name):
        return lambda e, i: (
            F.element_at(F.col("_rts"), i + 1) == F.lit(rt_name)
        )

    def _extractor(ddl):
        return lambda e: F.variant_get(e, "$.resource", ddl)

    arr_cols = []
    for rt in schemas.resource_types():
        rt_schema: StructType = schemas.schema(rt)
        matching = F.filter(F.col("_entries"), _matcher(rt))
        typed = F.transform(matching, _extractor(rt_schema.simpleString()))
        # absent resource type → NULL column (explode() then yields no
        # rows, matching the reference's behavior for missing
        # resources). The gate is array_contains over the tag array — a
        # codegen'd scan that short-circuits the interpreted
        # filter+transform entirely for types the bundle doesn't carry;
        # when it passes, the match is non-empty by construction, so no
        # size() re-evaluation of the typed array is needed.
        arr_cols.append(
            F.when(F.array_contains(F.col("_rts"), rt), typed).alias(rt)
        )
    if include_other:
        known = [F.lit(rt) for rt in schemas.resource_types()]
        others = F.transform(
            F.filter(
                F.col("_entries"),
                lambda e, i: ~F.coalesce(
                    F.element_at(F.col("_rts"), i + 1).isin(*known)
                    if known
                    else F.lit(False),
                    F.lit(False),
                ),
            ),
            lambda e: F.struct(
                F.variant_get(e, "$.resource.resourceType", "string").alias(
                    "resourceType"
                ),
                F.to_json(F.variant_get(e, "$.resource", "variant")).alias(
                    "resource"
                ),
            ),
        )
        arr_cols.append(F.when(F.size(others) > 0, others).alias("_other"))
    # ONE output projection: a separate null-out projection over the
    # typed columns re-materializes every wide array<struct> column a
    # second time (~1.5x measured) — keep the when() inline instead.
    return t.select(*meta_names, *arr_cols)


class FhirBundles:
    """Lazy handle over a directory of FHIR bundle JSON files.

    ``glob_filter`` selects files by name WITHOUT putting a glob in the
    path: Hadoop glob expansion stats every match one by one on the
    driver (~50x slower than a prefix listing over a 1200-file local
    corpus; far worse against an object store), while ``pathGlobFilter``
    filters during the normal directory listing.
    """

    def __init__(
        self,
        path: str,
        spark: SparkSession | None = None,
        glob_filter: str | None = None,
    ):
        self.path = path
        self.glob_filter = glob_filter
        self.spark = spark or SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        self._entry_df: DataFrame | None = None

    # -- ingestion ----------------------------------------------------------

    def entry(
        self,
        schemas: FhirSchemaModel | None = None,
        include_other: bool = False,
    ) -> DataFrame:
        """Bundle-row DataFrame: bundleUUID, timestamp, bundle metadata, and
        one ``array<struct>`` column per resource type in ``schemas``
        (plus ``_other`` for out-of-catalog resources when
        ``include_other=True``)."""
        reader = self.spark.read
        if self.glob_filter:
            reader = reader.option("pathGlobFilter", self.glob_filter)
        raw = reader.text(self.path, wholetext=True).select(
            F.col("value"),
            F.col("_metadata.file_path").alias("_file_path"),
        )
        self._entry_df = entry_from_json(
            raw, schemas=schemas, include_other=include_other
        )
        return self._entry_df

    # -- sinks ---------------------------------------------------------------

    def bulk_table_write(
        self,
        location: str,
        write_mode: str = "overwrite",
        columns: list[str] | None = None,
    ) -> None:
        """Write each resource column as its own table ``<location>.<Resource>``
        (`01_dbignite_sample.py:221-223,425-427`). ``columns=None`` writes all
        resource columns. With more than one table the ``entry()`` frame
        is materialized once, eagerly, in the columnar cache and released
        on return; a frame the caller already cached is used as it is and
        left cached (``write.bulk_table_write``)."""
        from interop_spark.fhir.write import bulk_table_write

        df = self._entry_df if self._entry_df is not None else self.entry()
        bulk_table_write(df, location, write_mode=write_mode, columns=columns)


def read_from_directory(
    path: str,
    spark: SparkSession | None = None,
    glob_filter: str | None = None,
) -> FhirBundles:
    """Entry point mirroring ``dbignite.readers.read_from_directory``
    (`01_dbignite_sample.py:20,25`)."""
    return FhirBundles(path, spark=spark, glob_filter=glob_filter)


def ndjson_resource_from_lines(
    raw: DataFrame,
    resource_type: str,
    schemas: FhirSchemaModel | None = None,
) -> DataFrame:
    """Typed resource rows from a frame of NDJSON lines (``value`` +
    ``_file_path``) — the parse core shared by the batch
    ``FhirNdjson.resource`` and the streaming ``stream_ndjson_resources``
    (stateless projections only, so stream==batch equality holds by
    construction, the ``entry_from_json`` pattern). Lines of other types
    — and malformed lines, whose ``try_parse_json`` is NULL — cost one
    tag probe and are filtered BEFORE the typed struct materializes."""
    schemas = schemas or FhirSchemaModel()
    st = schemas.schema(resource_type)
    v = raw.select(
        F.col("_file_path"), F.try_parse_json(F.col("value")).alias("_v")
    )
    tagged = v.where(
        F.variant_get("_v", "$.resourceType", "string")
        == F.lit(resource_type)
    )
    return tagged.select(
        F.col("_file_path"),
        F.variant_get("_v", "$", st.simpleString()).alias("_r"),
    ).select("_file_path", "_r.*")


class FhirNdjson:
    """FHIR Bulk Data Access export ingestion: a directory of NDJSON
    files (one resource JSON per LINE, conventionally one resource type
    per file — the `$export` output layout, hl7.org/fhir/uv/bulkdata).

    Scale shape vs the bundle path: bundle files must be read
    ``wholetext`` (one task per file minimum), while NDJSON is
    line-splittable — Spark splits a multi-GB Observation.ndjson across
    tasks at parquet-like granularity, so ingest parallelism scales with
    bytes, not file count. Each line is parsed ONCE into a VARIANT;
    per-type extraction is a typed ``variant_get`` against the declared
    catalog schema (same single-parse posture as ``entry()``,
    reader.py:53).
    """

    def __init__(
        self,
        path: str,
        spark: SparkSession | None = None,
        glob_filter: str | None = None,
    ):
        self.path = path
        self.glob_filter = glob_filter
        self.spark = (
            spark
            or SparkSession.getActiveSession()
            or SparkSession.builder.getOrCreate()
        )
        self._raw_df: DataFrame | None = None

    def _raw(self) -> DataFrame:
        # memoized per INSTANCE (r19 optimization round): a multi-type
        # assembly calls resource() once per type, and each un-memoized
        # call paid a fresh read.text listing round-trip. The memo is a
        # logical plan, not data — every action still reads the files —
        # and instance scope means a new reader object always re-lists.
        if self._raw_df is not None:
            return self._raw_df
        reader = self.spark.read
        if self.glob_filter:
            reader = reader.option("pathGlobFilter", self.glob_filter)
        self._raw_df = reader.text(self.path).select(
            F.col("value"),
            F.col("_metadata.file_path").alias("_file_path"),
        )
        return self._raw_df

    def resource_types(self) -> DataFrame:
        """(resourceType, n_resources) over the export — the audit scan
        run before deciding which catalog schemas to materialize."""
        v = self._raw().select(
            F.variant_get(
                F.try_parse_json(F.col("value")),
                "$.resourceType",
                "string",
            ).alias("resourceType")
        )
        return v.groupBy("resourceType").agg(
            F.count(F.lit(1)).alias("n_resources")
        )

    def resource(
        self,
        resource_type: str,
        schemas: FhirSchemaModel | None = None,
    ) -> DataFrame:
        """Typed rows of one resource type: every column of the catalog
        StructType for ``resource_type``, plus ``_file_path`` provenance
        (see ``ndjson_resource_from_lines`` for the filter-before-
        materialize cost argument)."""
        return ndjson_resource_from_lines(
            self._raw(), resource_type, schemas=schemas
        )


def read_from_ndjson(
    path: str,
    spark: SparkSession | None = None,
    glob_filter: str | None = None,
) -> FhirNdjson:
    """Bulk-export counterpart of ``read_from_directory`` (the reference
    ingests transaction bundles, `01_dbignite_sample.py:20,25`; the bulk
    NDJSON layout is the other standard FHIR-at-rest format)."""
    return FhirNdjson(path, spark=spark, glob_filter=glob_filter)


def bundles_from_ndjson(
    nd: FhirNdjson,
    resource_types: list[str],
    schemas: FhirSchemaModel | None = None,
) -> DataFrame:
    """Assemble a ``$export`` NDJSON directory into patient-centric
    bundle rows — the bridge that lets every ``entry()``-consuming
    analytic (``patient_conditions`` etc.) run unchanged on bulk-export
    data (the reference's whole analytics surface consumes bundle rows,
    `01_dbignite_sample.py:25-26,47-56`; bulk exports arrive per-type).

    One output row per patient: the same meta columns ``entry()``
    emits (bundleUUID deterministic from the synthetic provenance
    ``ndjson://<patient_ref>``, so re-ingesting the same export yields
    stable keys; ``bundleId`` carries the patient reference;
    ``bundleType`` is the literal ``ndjson-export``; no export-level
    timestamp) plus one ``array<struct>`` column per requested type.

    Patient attribution: ``Patient`` rows key on ``Patient/<id>``;
    every other type keys on the FHIR patient-compartment references
    the declared schema carries — the single-reference fields
    ``subject`` / ``patient`` / ``beneficiary`` (Coverage keys on
    ``beneficiary``, hl7.org/fhir/R4/compartmentdefinition-patient)
    coalesced into ONE primary ref, plus every value of an
    array-of-Reference field of those names (Account.subject is
    0..*): a resource naming several patients lands in each named
    patient's bundle row, which is exactly the compartment contract.
    Rows with no patient reference are dropped (un-attributable
    resources belong in the per-type frames, not in patient bundles).

    Scale shape: each type aggregates independently — one shuffle per
    type keyed by patient reference, ``collect_list`` arrays bounded by
    that PATIENT's compartment size (never corpus-keyed) — and the
    per-type aggregates full-outer-join on the shared key, all sides
    already partitioned by it (sort-merge reuses the exchange; AQE
    coalesces). A patient with no rows of some type gets a NULL array,
    matching ``entry()``'s absent-type contract (explode yields no
    rows)."""
    schemas = schemas or FhirSchemaModel()
    joined: DataFrame | None = None
    for rt in resource_types:
        st = schemas.schema(rt)
        fields = {f.name: f.dataType for f in st.fields}
        if rt == "Patient":
            keys = F.array(F.concat(F.lit("Patient/"), F.col("id")))
        else:
            single = [
                F.col(f"{c}.reference")
                for c in ("subject", "patient", "beneficiary")
                if c in fields
                and isinstance(fields[c], StructType)
                and "reference" in fields[c].fieldNames()
            ]
            multi = [
                F.transform(F.col(c), lambda x: x["reference"])
                for c in ("subject", "patient", "beneficiary")
                if c in fields
                and isinstance(fields[c], ArrayType)
                and isinstance(fields[c].elementType, StructType)
                and "reference" in fields[c].elementType.fieldNames()
            ]
            parts = ([F.array(F.coalesce(*single))] if single else []) + multi
            if not parts:
                raise ValueError(
                    f"{rt}: declared schema has no subject/patient/"
                    "beneficiary reference to attribute rows to a patient"
                )
            keys = F.array_distinct(
                F.array_compact(parts[0] if len(parts) == 1 else F.concat(*parts))
            )
        typed = nd.resource(rt, schemas=schemas)
        agg = (
            typed.select(
                F.explode(keys).alias("_patient_ref"),
                F.struct(*[F.col(f.name) for f in st.fields]).alias("_r"),
            )
            .groupBy("_patient_ref")
            .agg(F.collect_list("_r").alias(rt))
        )
        joined = (
            agg
            if joined is None
            else joined.join(agg, "_patient_ref", "full_outer")
        )
    if joined is None:
        raise ValueError("resource_types must be non-empty")
    return joined.select(
        _uuid_from_md5(
            F.md5(F.concat(F.lit("ndjson://"), F.col("_patient_ref")))
        ).alias("bundleUUID"),
        F.col("_patient_ref").alias("bundleId"),
        F.lit("ndjson-export").alias("bundleType"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        *resource_types,
    )
