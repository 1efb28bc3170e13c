"""interop_spark — a PySpark-native analytics engine with the capability
surface of databricks-industry-solutions/interop (dbignite), rebuilt
Spark-first.

Subpackages
-----------
fhir       : FHIR bundle ingestion (reader/schema/sinks) and the reverse
             DataFrame→FHIR writer (Mapping/MappingManager/Bundle).
operators  : large-scale training-data-pipeline operators — dedup
             (exact/minhash-LSH/simhash), similarity search, text analysis,
             multimodal column plumbing.
queries    : named query library; each query has a DuckDB oracle-SQL twin
             used by the driver's correctness gate.
session    : tuned local SparkSession builder (AQE, shuffle partitions,
             nested-schema pruning).
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

from interop_spark.session import get_spark  # noqa: F401

# Executor-side Python (UDFs, mapInPandas functions and the engine helpers
# they call) is pickled BY VALUE: workers of a plain session need no
# interop_spark install. Registration covers every submodule.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
